package graft

import graft.functions.{TopKCrowded, bquant, quantize}
import graft.operators.{IvfIndex, ProductQuantizer, Serving}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial, Sum}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec,
  ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The executed plans of the four MaxSim surfaces: each ranks in ONE
  * partial [[TopKCrowded]] that sits between the per-doc sum and the
  * first exchange above it — a batch per query, a single request as
  * one global group whose sum already runs in one partition, so no
  * exchange follows it; none has a Window; the BQ form scores both
  * kernels on ONE layout scan.
  */
class MaxSimPlanSpec extends SparkTestBase {
  import spark.implicits._

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: children(p).flatMap(nodes)

  /** Root-to-node paths to every node `f` holds for. */
  private def paths(p: SparkPlan, f: SparkPlan => Boolean)
      : Seq[List[SparkPlan]] = {
    val below = children(p).flatMap(paths(_, f)).map(p :: _)
    if (f(p)) List(p) +: below else below
  }

  private def isPartialTopK(p: SparkPlan): Boolean = p match {
    case a: ObjectHashAggregateExec => a.aggregateExpressions.exists(e =>
      e.mode == Partial && e.aggregateFunction.isInstanceOf[TopKCrowded])
    case _ => false
  }

  private def isFinalSum(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.aggregateExpressions.exists(e =>
      e.mode == Final && e.aggregateFunction.isInstanceOf[Sum])
    case _ => false
  }

  /** Runs `df`, then checks its executed plan: no Window, and between
    * the per-doc sum and the first exchange above it a partial top-k.
    * A `single` request has no exchange above its sum. Returns the
    * plan. */
  private def checkRanked(name: String, df: DataFrame,
      single: Boolean): SparkPlan = {
    assert(df.collect().nonEmpty, s"$name: no rows")
    val plan = df.queryExecution.executedPlan
    assert(!nodes(plan).exists(_.isInstanceOf[WindowExec]),
      s"$name: a Window node:\n$plan")
    val sums = paths(plan, isFinalSum)
    assert(sums.nonEmpty, s"$name: no per-doc sum:\n$plan")
    for (path <- sums) {
      val above = path.reverse.tail
      val (stage, rest) = above.span {
        case _: ShuffleExchangeLike => false
        case _ => true
      }
      assert(rest.isEmpty == single,
        s"$name: want ${if (single) "no" else "an"} exchange above the " +
          s"per-doc sum:\n$plan")
      assert(stage.exists(isPartialTopK),
        s"$name: no partial TopKCrowded below the first exchange after " +
          s"the per-doc sum:\n$plan")
    }
    plan
  }

  private lazy val layouts = {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    def layout(df: DataFrame): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_maxsim_plan").toString + "/idx"
      IvfIndex.write(df, dir, model)
      dir
    }
    val raw = Serving.open(spark, layout(
      indexed.withColumn("bq_code", bquant.packSigns(col("v")))), vecCol = "v")
    val sq = Serving.open(spark, layout(indexed
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v")), vecCol = "v")
    val cb = ProductQuantizer.trainCodebooks(emb, "vec_id", "v")
    val pqDir = layout(indexed
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v"))
    ProductQuantizer.writeCodebook(spark, pqDir, cb)
    val pq = Serving.open(spark, pqDir, vecCol = "v")
    val vs = emb.filter(col("vec_id") <= 5L).orderBy("vec_id")
      .select("v").collect().map(_.getSeq[Double](0))
    (raw, sq, pq, vs)
  }

  test("plan: single MaxSim requests on every tier rank in a partial " +
      "top-k in the per-doc sum's one-partition stage, no exchange " +
      "above it, no Window") {
    val (raw, sq, pq, vs) = layouts
    val qvecs = vs.take(3).map(_.toArray).toSeq
    for ((name, h) <- Seq("raw" -> raw, "sq8" -> sq, "pq" -> pq))
      checkRanked(s"searchMaxSim/$name",
        h.searchMaxSim(qvecs, nProbe = 3, k = 5, docCol = "label"),
        single = true)
  }

  test("plan: the BQ MaxSim request reads the layout in ONE FileScan " +
      "and ranks in a shortlist-mode partial top-k, no Window") {
    val (raw, _, _, vs) = layouts
    val df = raw.searchMaxSimBq(vs.take(3).map(_.toArray).toSeq,
      nProbe = 3, m = 5, k = 3, docCol = "label")
    val plan = checkRanked("searchMaxSimBq", df, single = true)
    val scans = nodes(plan).collect { case f: FileSourceScanExec => f }
    assert(scans.length == 1,
      s"want one layout FileScan, got ${scans.length}:\n$plan")
  }

  test("plan: MaxSim batches, with and without a per-query k, rank in " +
      "a partial top-k below the first exchange after the per-doc sum, " +
      "no Window") {
    val (raw, sq, pq, vs) = layouts
    val queries = Seq(
      (0L, Seq(vs(0), vs(1)), Option.empty[Map[String, Seq[String]]], 2),
      (1L, Seq(vs(2), vs(3), vs(4)),
        Option(Map("label" -> Seq("1", "3", "5"))), 4),
      (2L, Seq(vs(5)), Option.empty[Map[String, Seq[String]]], 9))
      .toDF("qid", "qvecs", "allow", "kq")
    for ((name, h) <- Seq("raw" -> raw, "sq8" -> sq, "pq" -> pq)) {
      checkRanked(s"searchMaxSimBatch/$name", h.searchMaxSimBatch(
        queries.select("qid", "qvecs"), "qid", "qvecs", nProbe = 3, k = 5,
        docCol = "label"), single = false)
      val perQuery = h.searchMaxSimBatchPerQuery(queries, "qid", "qvecs",
        "allow", Seq("label"), nProbe = 3, k = 5, docCol = "label",
        kCol = Some("kq"))
      checkRanked(s"searchMaxSimBatchPerQuery/$name", perQuery,
        single = false)
      // least(k, per-query k) per qid; qid 1 admits three labels
      val got = perQuery.collect().groupBy(_.getLong(0))
      assert(got.keySet == Set(0L, 1L, 2L), s"$name: ${got.keySet}")
      assert(got(0L).length == 2 && got(2L).length == 5, name)
      assert(got(1L).forall(r => Set(1, 3, 5)(r.getInt(1))), name)
    }
  }
}
