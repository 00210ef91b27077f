package graft.perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** The serving benchmark's entry point:
  *
  * {{{
  * Main --workload <serve|upsert_hybrid> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --records <dir>
  * }}}
  *
  * Prints one environment line, then the result as the last line of
  * stdout. `--trace 0` prints the end-to-end metrics; `--trace 1`
  * records spans (written to `--records`) and prints the per-layer
  * metrics. `perfbench/run.py` builds the program and calls this.
  */
object Main {

  val Workloads: Map[String, Run => Outcome] = Map(
    "serve" -> Serve.run,
    "upsert_hybrid" -> Upsert.run)

  final case class Args(workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: File, records: File)

  def parse(argv: Seq[String]): Args = {
    require(argv.length % 2 == 0, s"expected --flag value pairs, got ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = get("workload")
    require(Workloads.contains(wl),
      s"unknown workload '$wl' (${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val seconds = get("seconds").toDouble
    require(seconds > 0, s"--seconds must be positive, got $seconds")
    val trace = get("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(wl, get("seed").toLong, seconds, trace == "1", new File(get("work")),
      new File(get("records")))
  }

  def session(work: File, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      // the same session shape graft.Bench measures under
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val load = Run.loadavg()
    val cpus = Runtime.getRuntime.availableProcessors()
    a.work.mkdirs(); a.records.mkdirs()
    val spark = session(a.work, cpus)
    try {
      val confs = Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled").map(k => s""""$k": "${spark.conf.get(k)}"""")
      // ROADMAP aim 1: a record taken on a busy box says so
      val contended = load >= 2
      if (contended)
        System.err.println(f"perfbench: loadavg_start $load%.2f >= 2, this run is contended")
      val env = s"""{"env": {"workload": "${a.workload}", "seed": ${a.seed}, """ +
        s""""seconds": ${a.seconds}, "trace": ${a.traced}, "loadavg_start": $load, """ +
        s""""contended": $contended, "cpus": $cpus, """ +
        s""""heap_max_mb": ${Runtime.getRuntime.maxMemory / 1048576}, """ +
        s""""java": "${System.getProperty("java.version")}", """ +
        s""""spark": "${spark.version}", "confs": {${confs.mkString(", ")}}}}"""
      println(env)

      val tracer = if (a.traced) Some(new Tracer(spark)) else None
      val run = new Run(spark, a.seed, a.seconds, tracer.getOrElse(Trace.Off), a.work)
      val out = Workloads(a.workload)(run)
      System.err.println(s"perfbench: request_ms ${out.requestMs.map(x => f"$x%.1f").mkString(" ")}")
      val metrics = tracer match {
        case Some(t) =>
          val spans = t.finish()
          val w = new PrintWriter(new File(a.records,
            s"${a.workload}-seed${a.seed}-spans.jsonl"))
          try { w.println(env); w.println(Tracer.toJsonLines(spans)) } finally w.close()
          Layers.derive(spans, out.direct)
        case None => out.e2e
      }
      println(Report(run.attempted, run.failed, metrics, a.traced).json)
    } finally spark.stop()
  }
}
