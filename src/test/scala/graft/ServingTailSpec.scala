package graft

import graft.functions.TopKCrowded
import graft.operators.{IvfIndex, ProductQuantizer, Serving}
import graft.streaming.IndexMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** The one single-request serving tail (`IvfIndex.servingTail`) behind
  * the full-shape `Serving.search` / 10-arg `IvfIndex.searchDf` and the
  * crowding/metadata forms of `searchSq`, `searchAdc` and
  * `searchBqRerank`: every probe — small, past `IvfIndex.MaxSingleRows`,
  * in memory or read through the delta registry — ranks in a partial
  * top-k in the scan tasks below ONE single-partition exchange; a small
  * parquet metadata table is broadcast, any other has the ranked rows
  * broadcast into its scan; and the rows equal the serving formula —
  * spill collapse → crowding cap per attribute value (score desc, id) →
  * top-k (score desc, id, a null score last) → inner metadata join —
  * computed here on the driver.
  */
class ServingTailSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/idx"

  /** The executed plan's nodes, walking into the AQE query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** One unique candidate: id, score, crowding attribute. */
  private case class Cand(id: Any, score: Double, attr: Any)

  /** The serving formula over unique candidates: crowding cap per
    * attribute value, then top-k, both by (score desc, id); then the
    * inner join to `meta` (key → appended value) — a duplicate key
    * yields one row per metadata row. Rows: (id, meta value, score,
    * rank). */
  private def formula(cands: Seq[Cand], k: Int, cap: Int,
      meta: Seq[(Any, String)], idOrd: Ordering[Any])
      : Seq[(Any, String, Double, Long)] = {
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, idOrd)
    val crowded = cands.groupBy(_.attr).values
      .flatMap(_.sortBy(c => (c.score, c.id))(ord).take(cap)).toSeq
    crowded.sortBy(c => (c.score, c.id))(ord).take(k).zipWithIndex
      .flatMap { case (c, i) =>
        meta.filter(_._1 == c.id).map(m => (c.id, m._2, c.score, i + 1L))
      }
  }

  private val longOrd: Ordering[Any] =
    Ordering.by[Any, Long](_.asInstanceOf[Long])

  private def sorted(rows: Seq[(Any, String, Double, Long)]) =
    rows.sortBy(r => (r._4, r._2))

  private def served(df: DataFrame): Seq[(Any, String, Double, Long)] =
    df.collect().toSeq.map(r =>
      (r.get(0), r.getString(1), r.getDouble(2), r.getLong(3)))

  /** A 3-leaf raw layout built by hand: scores are exact (v·q = the
    * first component), ids tie in pairs (ids 2j−1 and 2j score alike),
    * leaves 0 and 1 are the two probed ones, every id ≡ 0 mod 3 below
    * 30 is stored in BOTH probed leaves (a spill copy), ids ≥ 30 live
    * in the unprobed leaf 2. */
  private val q = Array(1.0, 0.05, 0.0, 0.0)
  private val model = IvfIndex.Model(Array(Array(1.0, 0.0, 0.0, 0.0),
    Array(0.9, 0.1, 0.0, 0.0), Array(-1.0, 0.0, 0.0, 0.0)))
  private def tieScore(i: Int): Double = ((36 - i) / 2) / 4.0
  private lazy val handRows: Seq[(Long, Int, Int, Seq[Double])] =
    (0 until 36).flatMap { i =>
      val v = Seq(tieScore(i), 0.0, 0.01 * i, 0.0)
      val leaf = if (i >= 30) 2 else i % 2
      val home = (i.toLong, i % 5, leaf, v)
      if (i < 30 && i % 3 == 0) Seq(home, (i.toLong, i % 5, 1 - leaf, v))
      else Seq(home)
    }

  private def handLayout(stringIds: Boolean): Serving = {
    val raw = handRows.toDF("vec_id", "label", "leaf_id", "v")
    val indexed =
      if (stringIds) raw.withColumn("vec_id",
        format_string("d%03d", col("vec_id")))
      else raw
    val dir = tmpDir("graft_tail_hand")
    IvfIndex.write(indexed, dir, model)
    Serving.open(spark, dir, vecCol = "v")
  }

  /** Unique probed candidates of the hand layout, by the formula. */
  private def handCands(nProbe: Int, idOf: Long => Any): Seq[Cand] = {
    val probed = model.topLeaves(q, nProbe).toSet
    handRows.filter(r => probed(r._3))
      .map(r => Cand(idOf(r._1), r._4.zip(q).map(t => t._1 * t._2).sum,
        r._2))
      .distinct
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] =
    shuffles(df.queryExecution.executedPlan)

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
    nodes(p).collect { case e: ShuffleExchangeLike => e }

  private def partialTopK(p: SparkPlan): Boolean = nodes(p).exists {
    case a: BaseAggregateExec => a.aggregateExpressions.exists(e =>
      e.mode == Partial && e.aggregateFunction.isInstanceOf[TopKCrowded])
    case _ => false
  }

  /** The broadcast side of the metadata join: the metadata table
    * (holds `title`) or the ranked rows (hold `rank`). */
  private def broadcasts(df: DataFrame, column: String): Boolean =
    nodes(df.queryExecution.executedPlan).exists {
      case j: BroadcastHashJoinExec =>
        j.buildSide == BuildRight && j.right.output.exists(_.name == column)
      case _ => false
    }

  private def metaFile(n: Long): DataFrame = {
    val dir = tmpDir("graft_tail_meta")
    spark.range(n).select(col("id").as("vec_id"),
      concat(lit("doc-"), col("id")).as("title")).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("plan: the full-shape single request on every tier takes ONE " +
      "exchange, no range sort, and broadcasts a small metadata table") {
    import graft.functions.{bquant, quantize}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    def layout(df: DataFrame): String = {
      val dir = tmpDir("graft_tail_plan")
      IvfIndex.write(df, dir, model)
      dir
    }
    val raw = Serving.open(spark, layout(
      indexed.withColumn("bq_code", bquant.packSigns(col("v")))),
      vecCol = "v")
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
    val metaDir = tmpDir("graft_tail_meta")
    emb.select(col("vec_id"), concat(lit("doc-"), col("vec_id")).as("title"))
      .write.parquet(metaDir)
    val meta = Some((spark.read.parquet(metaDir), "vec_id"))

    val qv = emb.filter(col("vec_id") === 42L).select("v").head()
      .getSeq[Double](0).toArray
    val r = Seq(col("label") >= 0)
    val crowd = Some(("label", 3))
    val surfaces: Seq[(String, () => DataFrame)] = Seq(
      "raw" -> (() => raw.search(qv, 3, 5, r, crowd, meta)),
      "sq8" -> (() => sq.searchSq(qv, 3, 5, r, crowd, meta)),
      "pq" -> (() => pq.searchAdc(qv, 3, 5, r, crowd, meta)),
      "bq" -> (() => raw.searchBqRerank(qv, 3, 20, 5, r, crowd, meta)))
    for ((name, surface) <- surfaces) {
      val df = surface()
      val rows = df.collect()
      assert(rows.length == 5, s"$name: ${rows.length} rows")
      assert(rows.forall(r => r.getString(1) == s"doc-${r.getLong(0)}"),
        s"$name: metadata missing or wrong")
      val all = nodes(df.queryExecution.executedPlan)
      val ex = shuffles(df)
      assert(ex.length == 1,
        s"$name: want one exchange, got ${ex.length}:\n" +
          ex.map(_.outputPartitioning).mkString("\n"))
      assert(!all.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"$name: the rank order plans a range exchange")
      assert(broadcasts(df, "title"), s"$name: the metadata side is not broadcast")
    }
  }

  test("plan: a metadata table past MaxSingleRows, or not a plain " +
      "parquet scan, is never broadcast: the ranked rows are") {
    val serving = handLayout(stringIds = false)
    // 70,000 rows: past IvfIndex.MaxSingleRows (65,536)
    val big = metaFile(70000)
    val inMemory = (0L until 36L).map(i => (i, s"doc-$i")).toDF("vec_id", "title")
    for ((name, meta) <- Seq("large file" -> big, "in memory" -> inMemory)) {
      val df = serving.search(q, 2, 4, Nil, Some(("label", 2)),
        Some((meta, "vec_id")))
      val got = df.collect()
      assert(got.map(_.getLong(3)).toSeq == (1L to 4L), name)
      assert(got.forall(r => r.getString(1) == s"doc-${r.getLong(0)}"), name)
      val ex = shuffles(df)
      // candidates → one partition, joined rows → one partition
      assert(ex.length == 2 && ex.forall(_.outputPartitioning.numPartitions == 1),
        s"$name: want two single-partition exchanges, got:\n" +
          ex.map(_.outputPartitioning).mkString("\n"))
      assert(!nodes(df.queryExecution.executedPlan)
        .exists(_.outputPartitioning.isInstanceOf[RangePartitioning]), name)
      assert(broadcasts(df, "rank") && !broadcasts(df, "title"),
        s"$name: want the ranked rows broadcast, not the metadata")
    }
  }

  test("plan: a probe past MaxSingleRows, a frame built in memory and a " +
      "registry-backed handle rank in a partial top-k below ONE " +
      "single-partition exchange") {
    // 2 leaves × 36,000 rows: past IvfIndex.MaxSingleRows (65,536)
    val n = 72000
    val rows = spark.range(n).select(col("id").as("vec_id"),
      (col("id") % 5).cast("int").as("label"),
      (col("id") % 2).cast("int").as("leaf_id"),
      array(lit(1.0), (col("id") % 97).cast("double") / 97.0, lit(0.0),
        lit(0.0)).as("v"), lit(1L).as("version"))
    val dir = tmpDir("graft_tail_wide")
    val wideModel = IvfIndex.Model(Array(Array(1.0, 0.0, 0.0, 0.0),
      Array(0.9, 0.1, 0.0, 0.0)))
    IvfIndex.write(rows, dir, wideModel)
    val wide = Serving.open(spark, dir, vecCol = "v")
    val meta = Some((metaFile(n), "vec_id"))
    val crowd = Some(("label", 2))
    val k = 5
    // the registry-backed handle reads through its winners join
    def registry(): DataFrame = {
      IndexMaintenance.appendToServing(spark, dir,
        rows.filter(col("vec_id") < 100L).drop("leaf_id")
          .withColumn("version", lit(2L)), "vec_id", "v", "version")
      val reg = Serving.open(spark, dir, vecCol = "v")
      assert(reg.data.queryExecution.analyzed.exists(_.isInstanceOf[Join]),
        "construction: the handle does not read through its registry")
      reg.search(q, 2, k, Nil, crowd, meta)
    }
    for ((name, input) <- Seq[(String, () => DataFrame)](
        "wide layout" -> (() => wide.search(q, 2, k, Nil, crowd, meta)),
        "in memory" -> (() => IvfIndex.searchDf(rows, wideModel, q, 2, k,
          "vec_id", "v", Nil, crowd, meta)),
        "delta registry" -> (() => registry()))) {
      val df = input()
      val got = df.collect()
      assert(got.map(_.getLong(3)).toSeq == (1L to k.toLong), name)
      // the first exchange: the one fed by the scan, no exchange below
      val first = shuffles(df).filter(e => shuffles(e.child).isEmpty)
      assert(first.length == 1 &&
        first.head.outputPartitioning.numPartitions == 1,
        s"$name: want one single-partition first exchange, got:\n" +
          first.map(_.outputPartitioning).mkString("\n"))
      assert(partialTopK(first.head.child),
        s"$name: no partial TopKCrowded below the first exchange")
      val written = first.head.metrics("shuffleRecordsWritten").value
      assert(written <= k.toLong * first.head.numMappers,
        s"$name: $written records crossed from ${first.head.numMappers} tasks")
      assert(broadcasts(df, "rank"), s"$name: the ranked rows are not broadcast")
    }
  }

  test("rows: a null-score candidate ranks last, in the single request " +
      "and the batch alike") {
    // the probed leaves 0 and 1 hold 30 ids plus id 99, whose vector is
    // null; k exceeds the 31 candidates and label 0's cap admits all 7
    val withNull = handRows.map(r => (r._1, r._2, r._3, Option(r._4))) :+
      ((99L, 0, 0, Option.empty[Seq[Double]]))
    val dir = tmpDir("graft_tail_null")
    IvfIndex.write(withNull.toDF("vec_id", "label", "leaf_id", "v"), dir,
      model)
    val serving = Serving.open(spark, dir, vecCol = "v")
    val metaDf = (0L until 36L).:+(99L).map(i => (i, s"t$i"))
      .toDF("vec_id", "title")
    val (k, crowd, meta) = (40, Some(("label", 7)), Some((metaDf, "vec_id")))
    val single = serving.search(q, 2, k, Nil, crowd, meta).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.get(2), r.getLong(3)))
    val batch = serving.searchBatch(Seq((1L, q.toSeq)).toDF("qid", "qv"),
        "qid", "qv", 2, k, Nil, crowd, meta).collect().toSeq
      .map(r => (r.getLong(1), r.getString(2), r.get(3), r.getLong(4)))
    assert(single.length == 31 && single.last == ((99L, "t99", null, 31L)),
      s"the null-score row is not served last: ${single.takeRight(2)}")
    assert(single == batch.sortBy(_._4))
  }

  test("rows: spill copies collapse and a score tie at the k boundary " +
      "breaks by id, integral and string ids, either metadata join") {
    val k = 4
    val cap = 2
    for (stringIds <- Seq(false, true)) {
      val idOf: Long => Any =
        if (stringIds) i => f"d$i%03d" else i => i
      val idOrd: Ordering[Any] =
        if (stringIds) Ordering.by[Any, String](_.toString) else longOrd
      val serving = handLayout(stringIds)
      val meta = (0L until 36L).map(i => (idOf(i), s"t$i")) :+
        (idOf(2L), "t2-dup")
      val metaDf =
        if (stringIds) meta.map(m => (m._1.toString, m._2)).toDF("vec_id", "title")
        else meta.map(m => (m._1.asInstanceOf[Long], m._2)).toDF("vec_id", "title")
      val cands = handCands(2, idOf)
      val want = formula(cands, k, cap, meta, idOrd)
      // construction: a probed id is stored twice, the k-th and the
      // best cut candidate tie, and the duplicate key is served
      assert(handRows.groupBy(_._1).exists(_._2.count(r =>
        model.topLeaves(q, 2).contains(r._3)) == 2))
      val kth = want.map(_._3).min
      val crowdedOut = formula(cands, cands.length, cap,
        cands.map(c => (c.id, "")), idOrd).drop(k)
      assert(crowdedOut.headOption.exists(_._3 == kth),
        s"no tie at the k boundary: $want / $crowdedOut")
      assert(want.count(_._1 == idOf(2L)) == 2)
      // in memory: the ranked rows are broadcast; a small parquet
      // file: the metadata table is
      val metaDir = tmpDir("graft_tail_meta")
      metaDf.write.parquet(metaDir)
      for ((how, m) <- Seq("in memory" -> metaDf,
          "parquet" -> spark.read.parquet(metaDir))) {
        val df = serving.search(q, 2, k, Nil, Some(("label", cap)),
          Some((m, "vec_id")))
        assert(broadcasts(df, "title") == (how == "parquet"))
        assert(sorted(served(df)) == sorted(want),
          s"stringIds=$stringIds metadata $how")
      }
    }
  }

  test("rows: searchAdaptive's exact branch (parallel tail) equals " +
      "the formula over every restricted row") {
    import graft.operators.ServingManifest
    val serving = handLayout(stringIds = false)
    ServingManifest.promote(spark, serving.path, Seq("vec_id"))
    val reopened = Serving.open(spark, serving.path, vecCol = "v")
    // every leaf file holds an id ≥ 28, so the stats skip nothing and
    // the fraction bound of 1.0 is what takes the exact branch
    val sel = Seq(col("vec_id") >= 28L)
    assert(reopened.searchAdaptivePlan(sel, maxExactFraction = 1.0))
    val meta = (0L until 36L).map(i => (i: Any, s"t$i"))
    val cands = handRows.filter(_._1 >= 28)
      .map(r => Cand(r._1, r._4.zip(q).map(t => t._1 * t._2).sum, r._2))
      .distinct
    val want = formula(cands, 4, 1, meta, longOrd)
    assert(want.exists(_._1 == 30L),
      "construction: a row of the unprobed leaf ranks")
    val got = served(reopened.searchAdaptive(q, 2, 4, sel,
      Some(("label", 1)),
      Some((meta.map(m => (m._1.asInstanceOf[Long], m._2))
        .toDF("vec_id", "title"), "vec_id")), maxExactFraction = 1.0))
    assert(sorted(got) == sorted(want))
  }

  test("rows: the coded singles' full shape equals the formula over " +
      "their own bare candidates") {
    import graft.functions.{bquant, quantize}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val cb = ProductQuantizer.trainCodebooks(emb, "vec_id", "v")
    def layout(df: DataFrame): Serving = {
      val dir = tmpDir("graft_tail_coded")
      IvfIndex.write(df, dir, model)
      if (df.columns.contains("pq_code"))
        ProductQuantizer.writeCodebook(spark, dir, cb)
      Serving.open(spark, dir, vecCol = "v")
    }
    val raw = layout(indexed.withColumn("bq_code", bquant.packSigns(col("v"))))
    val sq = layout(indexed
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v"))
    val pq = layout(indexed
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v"))
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> (r.getInt(1): Any)).toMap
    val meta = labels.keys.toSeq.map(i => (i: Any, s"doc-$i"))
    val metaDf = Some((labels.keys.toSeq.map(i => (i, s"doc-$i"))
      .toDF("vec_id", "title"), "vec_id"))
    val qv = emb.filter(col("vec_id") === 42L).select("v").head()
      .getSeq[Double](0).toArray
    val r = Seq(col("vec_id") =!= 42L)
    val crowd = Some(("label", 2))
    val (k, m, nProbe) = (6, 15, 3)
    def cands(bare: DataFrame): Seq[Cand] = bare.collect().toSeq
      .map(r => Cand(r.getLong(0), r.getDouble(2), labels(r.getLong(0))))
    // the BQ shortlist by its own formula: the m best probed ids by
    // sign-dot (ties to the smaller id), exact scores from the bare
    // form with an admit-everything shortlist
    val probed = model.topLeaves(qv, nProbe)
    val shortlist = raw.data.filter(col("leaf_id").isin(probed: _*))
      .filter(r.reduce(_ && _))
      .select(col("vec_id"),
        bquant.signDot(col("bq_code"), typedLit(qv.toSeq)).as("bq"))
      .groupBy("vec_id").agg(max("bq").as("bq")).collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(t => (-t._2, t._1)).take(m).map(_._1).toSet
    val all = 100000
    assert(shortlist.size == m, "construction: fewer probed ids than m")
    val cases: Seq[(String, Seq[Cand], DataFrame)] = Seq(
      ("sq8", cands(sq.searchSq(qv, nProbe, all, r)),
        sq.searchSq(qv, nProbe, k, r, crowd, metaDf)),
      ("pq", cands(pq.searchAdc(qv, nProbe, all, r)),
        pq.searchAdc(qv, nProbe, k, r, crowd, metaDf)),
      ("bq", cands(raw.searchBqRerank(qv, nProbe, all, all, r)),
        raw.searchBqRerank(qv, nProbe, m, k, r, crowd, metaDf)))
    for ((name, cs, full) <- cases) {
      assert(cs.length > m, s"$name: construction: too few candidates")
      val kept = if (name == "bq")
        cs.filter(c => shortlist(c.id.asInstanceOf[Long])) else cs
      val want = formula(kept, k, 2, meta, longOrd)
      assert(want.length == k)
      assert(sorted(served(full)) == sorted(want), name)
    }
  }
}
