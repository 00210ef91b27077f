package graft.perfbench

/** Every metric the benchmark prints, by name and unit. BENCHMARK.json
  * declares the same lists (MetricsSpec holds them equal); a run
  * prints all end-to-end metrics untraced and all per-layer metrics
  * traced, and [[Report]] refuses any other name.
  */
object Metrics {

  /** Each workload defines these from its own traffic (README.md). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "request_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s",
    "recall_at_10" -> "ratio",
    "layout_mb" -> "MiB",
    "retained_heap_mb" -> "MiB")

  /** A layer a workload does not call reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "serving.plan_ms" -> "ms",
    "serving.exec_ms" -> "ms",
    "serving.jobs_per_req" -> "count",
    "serving.tasks_per_req" -> "count",
    "serving.sched_wait_ms_per_req" -> "ms",
    "serving.cpu_ms_per_req" -> "ms",
    "serving.files_read_per_req" -> "count",
    "serving.rows_scanned_per_result" -> "rows",
    "serving.shuffle_bytes_per_req" -> "B",
    "serving.single.recall_at_10" -> "ratio") ++
    Seq("raw", "sq8", "pq", "bq").flatMap(t => Seq(
      s"kernel.$t.ns_per_row" -> "ns",
      s"serving.$t.qps" -> "queries/s",
      s"serving.$t.recall_at_10" -> "ratio")) ++ Seq(
    "ivf.build_s" -> "s",
    "ivf.write_s" -> "s",
    "ivf.leaves" -> "count",
    "ivf.max_leaf_rows" -> "rows",
    "pq.train_s" -> "s",
    "tier.encode_write_s" -> "s",
    "layout.bytes_per_vector.raw" -> "B",
    "layout.bytes_per_vector.sq8" -> "B",
    "layout.bytes_per_vector.pq" -> "B",
    "manifest.open_ms" -> "ms",
    "manifest.log_versions" -> "count",
    "maintenance.append_ms" -> "ms",
    "maintenance.maintain_ms" -> "ms",
    "maintenance.delta_rows" -> "rows",
    "maintenance.compactions" -> "count",
    "maintenance.bytes_written_per_row" -> "B",
    "lexical.hybrid_plan_ms" -> "ms",
    "lexical.hybrid_exec_ms" -> "ms",
    "lexical.score_ms" -> "ms",
    "pipeline.token_check_ms" -> "ms",
    "pipeline.embed_ms" -> "ms",
    "pipeline.docs_per_s" -> "docs/s",
    "spark.gc_ms" -> "ms",
    "process.peak_rss_mb" -> "MiB",
    "trace.request_p50_ms" -> "ms")

  def forMode(traced: Boolean): Seq[(String, String)] =
    if (traced) PerLayer else EndToEnd
}

/** One run's result: the last line the benchmark prints. */
final case class Report(attempted: Long, failed: Long,
    metrics: Seq[(String, Double)], traced: Boolean) {

  require(attempted >= 1, "a run that attempted nothing has no result")

  def correct: Boolean = failed == 0

  /** The result line, checked against the declared metric list. */
  def json: String = {
    val declared = Metrics.forMode(traced)
    val got = metrics.map(_._1)
    require(got.toSet == declared.map(_._1).toSet && got.distinct == got,
      s"metrics printed ${got.sorted.mkString(",")} differ from the " +
        s"declared ${declared.map(_._1).sorted.mkString(",")}")
    metrics.foreach { case (n, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v") }
    val unit = declared.toMap
    val body = metrics.map { case (n, v) =>
      s""""$n": {"value": $v, "unit": "${unit(n)}"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}"""
  }
}
