package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run shares: the session, the seed, the measuring
  * window, the trace, the working directory, and the tally of checked
  * operations (every operation counts as attempted; one that throws or
  * fails a check counts as failed).
  */
final class Run(val spark: SparkSession, val seed: Long,
    val seconds: Double, val tr: Trace, val work: File) {

  var attempted = 0L
  var failed = 0L
  private val firstFailures = mutable.ArrayBuffer.empty[String]

  /** Run one operation and its checks: `body` returns the violated
    * checks (empty when the output is correct). None if it failed.
    */
  def attempt[T](what: String)(body: => (T, Seq[String])): Option[T] = {
    attempted += 1
    val res =
      try { val (t, bad) = body; if (bad.isEmpty) Right(t) else Left(bad.mkString("; ")) }
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    res match {
      case Right(t) => Some(t)
      case Left(msg) =>
        failed += 1
        if (firstFailures.length < 5) {
          firstFailures += s"$what: $msg"
          System.err.println(s"perfbench: FAILED $what: $msg")
        }
        None
    }
  }

  /** Wall time of `body` in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Loop `body` over whole groups of `group` iterations, at least
    * `minGroups` of them, until the measuring window has elapsed; the
    * loop's wall time in seconds. A floor on groups keeps a slow run
    * from measuring fewer, colder iterations than a fast one. */
  def measure(body: Int => Unit, group: Int = 1, minGroups: Int = 1): Double = {
    val t0 = System.nanoTime()
    val limit = (seconds * 1e9).toLong
    var i = 0
    while (i < group * minGroups || i % group != 0 || System.nanoTime() - t0 < limit) {
      body(i); i += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Heap in use after a full collection, in MiB. Spark's context
    * cleaner drops the blocks of collected broadcasts and shuffles on
    * its own thread after a GC, so collect, let it run, collect again. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Run {

  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Bytes of every file under `path`. */
  def bytesUnder(path: String): Long = {
    def go(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(go).sum
      else f.length
    go(new File(path))
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Peak resident set of this process (VmHWM), in MiB; 0 where
    * /proc is absent. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  /** The 1-minute load average, -1 where /proc is absent. */
  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(' ')(0).toDouble finally src.close()
    } catch { case _: java.io.IOException => -1.0 }

  /** Scores of one ranked answer must not increase. */
  def nonIncreasing(scores: Seq[Double]): Boolean =
    scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }
}
