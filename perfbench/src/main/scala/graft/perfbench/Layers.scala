package graft.perfbench

import Tracer.Span

/** What a workload hands back: its end-to-end metrics, the per-layer
  * values it knows directly (counts, recall, sizes) plus the helper
  * totals [[Layers.derive]] divides by, and the request latencies
  * behind `request_p50_ms` (kept in the run's record).
  */
final case class Outcome(e2e: Seq[(String, Double)], direct: Map[String, Double],
    requestMs: Seq[Double])

/** Per-layer metrics from a traced run's spans. Span names follow the
  * layer they wrap: `request.<tier>` roots with `serving.plan` (the
  * `search*` call) and `serving.exec` (collect) children; `ivf.*`,
  * `pq.train`, `tier.encode_write`, `manifest.open`,
  * `maintenance.*`, `lexical.*` and `pipeline.*` around the call of
  * that name.
  */
object Layers {

  /** Helper totals a workload passes in `direct` (never printed). */
  val Results = "_results"
  val QueriesPerRequest = "_queries_per_request"
  val RowsAppended = "_rows_appended"
  val DocsEmbedded = "_docs_embedded"

  val TierRequests: Map[String, String] = Map("raw" -> "request.raw",
    "sq8" -> "request.sq8", "pq" -> "request.pq", "bq" -> "request.bq")

  def derive(spans: Seq[Span], direct: Map[String, Double]): Seq[(String, Double)] = {
    def named(n: String) = spans.filter(_.name == n)
    def meanMs(n: String) = Run.mean(named(n).map(_.ms))
    def total(ss: Seq[Span], k: String) = ss.map(Tracer.subtreeCount(spans, _, k)).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val reqs = named("request.single")
    val perReq = (k: String) => ratio(total(reqs, k), reqs.length)
    val qpr = direct.getOrElse(QueriesPerRequest, 0.0)
    val appends = named("maintenance.append")
    val embeds = named("pipeline.embed")

    val derived: Map[String, Double] = Map(
      "serving.plan_ms" -> Run.mean(reqs.flatMap(r => spans.filter(s =>
        s.parent == r.id && s.name == "serving.plan")).map(_.ms)),
      "serving.exec_ms" -> Run.mean(reqs.flatMap(r => spans.filter(s =>
        s.parent == r.id && s.name == "serving.exec")).map(_.ms)),
      "serving.jobs_per_req" -> perReq("jobs"),
      "serving.tasks_per_req" -> perReq("tasks"),
      "serving.sched_wait_ms_per_req" -> perReq("sched_ms"),
      "serving.cpu_ms_per_req" -> perReq("cpu_ns") / 1e6,
      "serving.files_read_per_req" -> perReq("scan_files"),
      "serving.rows_scanned_per_result" ->
        ratio(total(reqs, "scan_rows"), direct.getOrElse(Results, 0.0)),
      "serving.shuffle_bytes_per_req" -> perReq("shuffle_bytes"),
      "ivf.build_s" -> meanMs("ivf.build") / 1000,
      "ivf.write_s" -> meanMs("ivf.write") / 1000,
      "pq.train_s" -> meanMs("pq.train") / 1000,
      "tier.encode_write_s" -> meanMs("tier.encode_write") / 1000,
      "manifest.open_ms" -> meanMs("manifest.open"),
      "maintenance.append_ms" -> Run.mean(appends.map(_.ms)),
      "maintenance.maintain_ms" -> meanMs("maintenance.maintain"),
      "maintenance.bytes_written_per_row" ->
        ratio(total(appends, "output_bytes"), direct.getOrElse(RowsAppended, 0.0)),
      "lexical.hybrid_plan_ms" -> meanMs("lexical.hybrid_plan"),
      "lexical.hybrid_exec_ms" -> meanMs("lexical.hybrid_exec"),
      "lexical.score_ms" -> meanMs("lexical.score"),
      "pipeline.token_check_ms" -> meanMs("pipeline.token_check"),
      "pipeline.embed_ms" -> Run.mean(embeds.map(_.ms)),
      "pipeline.docs_per_s" ->
        ratio(direct.getOrElse(DocsEmbedded, 0.0), embeds.map(_.ms).sum / 1000),
      "spark.gc_ms" -> Run.gcMs(),
      "process.peak_rss_mb" -> Run.peakRssMb()) ++
      TierRequests.flatMap { case (t, n) =>
        val rs = named(n)
        Seq(
          s"kernel.$t.ns_per_row" -> ratio(total(rs, "cpu_ns"), total(rs, "scan_rows")),
          s"serving.$t.qps" -> ratio(rs.length * qpr, rs.map(_.ms).sum / 1000))
      }

    Metrics.PerLayer.map { case (n, _) =>
      n -> direct.getOrElse(n, derived.getOrElse(n, 0.0)) }
  }
}
