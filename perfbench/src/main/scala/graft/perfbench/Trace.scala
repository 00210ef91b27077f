package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft's layers.
  *
  * Untraced runs use [[Trace.Off]], which only runs the body: the
  * end-to-end numbers are timed by the workloads themselves either way.
  */
trait Trace {
  /** A root span: starts a new request id that its children share. */
  def request[T](name: String)(body: => T): T
  /** A child of the innermost open span (a root if none is open). */
  def span[T](name: String)(body: => T): T
}

object Trace {
  object Off extends Trace {
    def request[T](name: String)(body: => T): T = body
    def span[T](name: String)(body: => T): T = body
  }
}

/** In-memory spans with Spark's counters attributed to them.
  *
  * A span holds name, start, end, parent and request id. While a span
  * is open its job tag is the only benchmark tag on the client thread,
  * so every job, and every SQL execution, it launches carries the tag.
  * A [[SparkListener]] credits jobs, stages, tasks, scheduler delay,
  * executor CPU and I/O bytes to the tagged span; a
  * [[QueryExecutionListener]] credits the rows and files of each
  * executed plan's file-scan nodes. Self time is duration minus the
  * time child spans cover.
  */
final class Tracer(spark: SparkSession) extends Trace {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var reqs = 0

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  /** SQL metric accumulator id -> the execution whose plan holds it. */
  private val accExec = new ConcurrentHashMap[Long, Long]()
  /** Per scan node: (a metric accumulator id, rows, files), joined to
    * spans at [[finish]]: a plan callback carries no execution id, and
    * can arrive before its execution's start event. */
  private val scans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

  private def registerPlan(exec: Long, p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accExec.put(m.accumulatorId, exec))
    p.children.foreach(registerPlan(exec, _))
  }
  @volatile private var jobsStarted, jobsEnded, sqlStarted, sqlEnded = 0

  private def tag(s: Span) = s"$TagPrefix${s.id}"

  private def spanOfTags(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toInt }

  private def add(span: Int, key: String, v: Double): Unit = {
    val s = spans.synchronized(spans(span))
    s.synchronized { s.counts(key) = s.counts.getOrElse(key, 0.0) + v }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted += 1
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty(JobTagsProperty)))
        .toSeq.flatMap(_.split(","))
      spanOfTags(tags).foreach { s =>
        e.stageIds.foreach(st => stageSpan.putIfAbsent(st, s))
        add(s, "jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val i = e.taskInfo
        add(s, "tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          val getting =
            if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime
            else 0L
          // the Spark UI's scheduler delay: task wall time not spent
          // deserializing, running or shipping the result
          val sched = i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - getting
          add(s, "sched_ms", math.max(0L, sched).toDouble)
          add(s, "cpu_ns", m.executorCpuTime.toDouble)
          add(s, "input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(s, "shuffle_bytes", (m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten).toDouble)
          add(s, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarted += 1
        spanOfTags(s.jobTags).foreach(execSpan.put(s.executionId, _))
        registerPlan(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        registerPlan(u.executionId, u.sparkPlanInfo)
      case _: SparkListenerSQLExecutionEnd => sqlEnded += 1
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val nodes = PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case f: FileSourceScanExec => f
      }
      nodes.foreach { f =>
        f.metrics.get("numOutputRows").foreach { rows =>
          scans.add((rows.id, rows.value,
            f.metrics.get("numFiles").map(_.value).getOrElse(0L)))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def request[T](name: String)(body: => T): T = {
    reqs += 1
    run(name, Some(reqs))(body)
  }

  def span[T](name: String)(body: => T): T = run(name, None)(body)

  private def run[T](name: String, req: Option[Int])(body: => T): T = {
    val parent = open.headOption
    val s = spans.synchronized {
      val s = new Span(spans.length, name, parent.fold(-1)(_.id),
        req.getOrElse(parent.fold(0)(_.req)), System.nanoTime())
      spans += s
      s
    }
    parent.foreach(p => sc.removeJobTag(tag(p)))
    sc.addJobTag(tag(s))
    open = s :: open
    try body
    finally {
      s.end = System.nanoTime()
      sc.removeJobTag(tag(s))
      open = open.tail
      parent.foreach(p => sc.addJobTag(tag(p)))
    }
  }

  /** Wait (≤ 10 s) for the listener bus to deliver every job and SQL
    * execution end (plan callbacks ride the same shared queue), credit
    * scan counters, and detach the listeners.
    */
  def finish(): Seq[Span] = {
    val deadline = System.nanoTime() + 10000000000L
    while ((jobsEnded < jobsStarted || sqlEnded < sqlStarted) &&
        System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(200)
    scans.asScala.foreach { case (acc, rows, files) =>
      Option(accExec.get(acc)).flatMap(e => Option(execSpan.get(e))).foreach { s =>
        add(s, "scan_rows", rows.toDouble)
        add(s, "scan_files", files.toDouble)
      }
    }
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spans.synchronized(spans.toList)
  }
}

object Tracer {
  private val TagPrefix = "perfbench-span-"
  /** The local property (SparkContext.SPARK_JOB_TAGS) a job's tags ride in. */
  private val JobTagsProperty = "spark.job.tags"

  private object PlanWalk extends AdaptiveSparkPlanHelper

  final class Span(val id: Int, val name: String, val parent: Int,
      val req: Int, val start: Long) {
    @volatile var end: Long = -1L
    val counts: mutable.Map[String, Double] = mutable.Map.empty
    def ms: Double = (end - start) / 1e6
    def count(k: String): Double = synchronized(counts.getOrElse(k, 0.0))
  }

  /** Counter `k` summed over `root` and every span below it. */
  def subtreeCount(all: Seq[Span], root: Span, k: String): Double = {
    val kids = all.groupBy(_.parent)
    def go(s: Span): Double =
      s.count(k) + kids.getOrElse(s.id, Nil).map(go).sum
    go(root)
  }

  /** Span duration minus the union of its children's intervals. */
  def selfMs(all: Seq[Span], s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end))
      .sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    covered += hi - lo
    s.ms - covered / 1e6
  }

  /** Spans as JSON lines: one object per span. */
  def toJsonLines(all: Seq[Span]): String = all.map { s =>
    val c = s.synchronized(s.counts.toSeq.sortBy(_._1))
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""req":${s.req},"start_ns":${s.start},"end_ns":${s.end},""" +
      s""""self_ms":${selfMs(all, s)},"counts":{$c}}"""
  }.mkString("\n")
}
