package graft

import graft.functions.TopKCrowded
import graft.operators.{IvfIndex, ProductQuantizer, Serving}
import graft.streaming.IndexMaintenance
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The batch serving tail: ONE partial [[TopKCrowded]] aggregate
  * grouped by query, below one exchange, in place of the spill
  * collapse, the crowding window and the rank window; and in-memory
  * query frames routed on the driver. Rows are checked against the
  * formula the tail replaced — max-score collapse per (query, id) →
  * crowding cap per (query, value) by (score desc, id) → top k by
  * (score desc, id) — computed here on the driver.
  */
class BatchTailSpec extends SparkTestBase {
  import spark.implicits._

  /** One scored copy of a candidate; `score` may be null; `sl` is its
    * shortlist (sign-dot) score. */
  private case class Copy(qid: Long, id: Long, score: java.lang.Double,
      attr: Option[Int], sl: java.lang.Double = null)

  /** Spark's order: score desc (NaN highest, −0.0 == 0.0, null last). */
  private def scoreCmp(a: java.lang.Double, b: java.lang.Double): Int =
    if (a == null) { if (b == null) 0 else 1 }
    else if (b == null) -1
    else SQLOrderingUtil.compareDoubles(b, a)

  /** The replaced formula over copies whose attribute is shared per
    * id. Rows: (qid, id, score as text, rn). */
  private def formula(copies: Seq[Copy], k: Long => Int, cap: Long => Int,
      idOrd: Ordering[Long], showId: Long => Any): Set[(Long, Any, String, Long)] = {
    val rank: Ordering[Copy] = (a: Copy, b: Copy) => {
      val s = scoreCmp(a.score, b.score)
      if (s != 0) s else idOrd.compare(a.id, b.id)
    }
    copies.groupBy(_.qid).toSeq.flatMap { case (q, cs) =>
      val unique = cs.groupBy(_.id).values.map(_.sorted(rank).head).toSeq
      val crowded = unique.groupBy(_.attr).values
        .flatMap(_.sorted(rank).take(cap(q))).toSeq
      crowded.sorted(rank).take(k(q)).zipWithIndex.map { case (c, i) =>
        (q, showId(c.id), String.valueOf(c.score), i + 1L)
      }
    }.toSet
  }

  /** The shortlist mode's formula: per query, each id's copy with the
    * best `sl` (ties to the better score), the m best of those by (sl
    * desc, id), then [[formula]] over them by score. */
  private def shortlistFormula(copies: Seq[Copy], m: Int, k: Long => Int,
      cap: Long => Int, idOrd: Ordering[Long], showId: Long => Any)
      : Set[(Long, Any, String, Long)] = {
    val bySl: Ordering[Copy] = (a: Copy, b: Copy) => {
      val s = scoreCmp(a.sl, b.sl)
      if (s != 0) s else {
        val i = idOrd.compare(a.id, b.id)
        if (i != 0) i else scoreCmp(a.score, b.score)
      }
    }
    formula(copies.groupBy(_.qid).values.toSeq.flatMap(cs =>
        cs.groupBy(_.id).values.map(_.sorted(bySl).head).toSeq
          .sorted(bySl).take(m)),
      k, cap, idOrd, showId)
  }

  /** The aggregate over `parts`, one Spark partition per element, as
    * the batch tail runs it: grouped by query, posexploded. */
  private def aggregate(parts: Seq[Seq[Copy]], k: Int, cap: Option[Int],
      stringIds: Boolean, shortlist: Option[Int] = None)
      : Set[(Long, Any, String, Long)] = {
    val idType = if (stringIds) StringType else LongType
    val schema = StructType(Seq(StructField("qid", LongType),
      StructField("id", idType), StructField("score", DoubleType),
      StructField("attr", IntegerType), StructField("kq", IntegerType),
      StructField("capq", IntegerType), StructField("sl", DoubleType)))
    def rowOf(c: Copy): Row = Row(c.qid,
      if (stringIds) f"d${c.id}%03d" else c.id, c.score,
      c.attr.map(Int.box).orNull, perQueryK.get(c.qid).map(Int.box).orNull,
      perQueryCap.get(c.qid).map(Int.box).orNull, c.sl)
    val rows = parts.map(_.map(rowOf))
    val rdd = spark.sparkContext.parallelize(rows, rows.length).flatMap(identity)
    val df = spark.createDataFrame(rdd, schema)
    assert(df.rdd.getNumPartitions == parts.length)
    df.groupBy(col("qid"))
      .agg(TopKCrowded.column(col("score"), col("id"),
        cap.map(_ => col("attr")), least(lit(k), col("kq")),
        cap.fold(lit(Int.MaxValue))(c => least(lit(c), col("capq"))),
        shortlist.map(m => (col("sl"), m)))
        .as("t"))
      .select(col("qid"), posexplode(col("t")))
      .collect().map(r => (r.getLong(0), r.getStruct(2).get(1),
        String.valueOf(r.getStruct(2).get(0)), r.getInt(1) + 1L)).toSet
  }

  // queries 4 and 14 carry per-query limits below the global ones
  private val perQueryK = Map(4L -> 2, 14L -> 2)
  private val perQueryCap = Map(4L -> 1, 14L -> 1)
  private val K = 4
  private val Cap = 2

  private def c(q: Long, id: Long, s: java.lang.Double, a: Option[Int]) =
    Copy(q, id, s, a)
  private val A = Some(1)
  private val B = Some(2)

  /** Two partitions; one query per case. */
  private lazy val parts: Seq[Seq[Copy]] = {
    val nan: java.lang.Double = Double.NaN
    val p0 = Seq(
      // 1: spill copies of id 7 in both partitions
      c(1, 7, 3.0, A), c(1, 8, 2.5, B), c(1, 9, 1.0, A),
      // 2: score ties at the k boundary (ids 20..25) and at the cap
      //    boundary (ids 10..12 share value A)
      c(2, 10, 5.0, A), c(2, 11, 5.0, A), c(2, 20, 1.0, B), c(2, 22, 1.0, Some(3)),
      c(2, 24, 1.0, Some(4)),
      // 3: value A's local top-cap (ids 1..3) is beaten by partition 1
      c(3, 1, 5.0, A), c(3, 2, 4.0, A), c(3, 3, 3.0, A), c(3, 6, 1.0, B),
      // 4: per-query k = 2 and cap = 1
      c(4, 1, 9.0, A), c(4, 2, 8.0, A), c(4, 3, 7.0, B),
      // 5: null values form one crowding group
      c(5, 1, 3.0, None), c(5, 2, 2.0, None), c(5, 4, 0.5, A),
      // 6: NaN, null, -0.0 and 0.0 scores; id 7's null copy loses to
      //    its 0.5 copy in partition 1
      c(6, 1, nan, Some(1)), c(6, 2, null, Some(2)), c(6, 3, -0.0, Some(3)),
      c(6, 7, null, Some(7)))
    val p1 = Seq(
      c(1, 7, 3.0, A), c(1, 6, 3.0, A), c(1, 5, 0.5, B),
      c(2, 12, 5.0, A), c(2, 21, 1.0, Some(5)), c(2, 23, 1.0, Some(6)),
      c(2, 25, 1.0, Some(7)),
      c(3, 4, 9.0, A), c(3, 5, 8.0, A), c(3, 7, 0.5, B),
      c(4, 4, 6.0, B), c(4, 5, 5.0, Some(3)),
      c(5, 3, 1.0, None), c(5, 5, 0.25, A),
      c(6, 4, 0.0, Some(4)), c(6, 5, 1.0, Some(5)), c(6, 6, -1.0, Some(6)),
      c(6, 7, 0.5, Some(7)), c(6, 8, null, Some(8)))
    Seq(p0, p1)
  }

  test("TopKCrowded rows == collapse → crowding cap → top k, across " +
      "two partitions, long and string ids, with and without crowding") {
    val all = parts.flatten
    val kOf = (q: Long) => math.min(K, perQueryK.getOrElse(q, K))
    val capOf = (q: Long) => math.min(Cap, perQueryCap.getOrElse(q, Cap))
    val longOrd = Ordering.Long
    val strOrd = Ordering.by[Long, String](i => f"d$i%03d")
    for (stringIds <- Seq(false, true); crowd <- Seq(true, false)) {
      val want = formula(if (crowd) all else all.map(_.copy(attr = None)),
        kOf, if (crowd) capOf else (_ => Int.MaxValue),
        if (stringIds) strOrd else longOrd,
        i => if (stringIds) f"d$i%03d" else i)
      val got = aggregate(parts, K, if (crowd) Some(Cap) else None, stringIds)
      val sortedRows = (s: Set[(Long, Any, String, Long)]) =>
        s.toSeq.sortBy(r => (r._1, r._4)).mkString("\n")
      assert(got == want, s"stringIds=$stringIds crowd=$crowd\n" +
        s"got:\n${sortedRows(got)}\nwant:\n${sortedRows(want)}")
      // the same rows from one partition, and from the other split
      assert(aggregate(Seq(all), K, if (crowd) Some(Cap) else None,
        stringIds) == want)
      assert(aggregate(Seq(all.reverse.take(20), all.reverse.drop(20)), K,
        if (crowd) Some(Cap) else None, stringIds) == want)
    }
    // the cases the data is built for, spelled out (long ids, crowded)
    val got = aggregate(parts, K, Some(Cap), stringIds = false)
    def ids(q: Long) = got.filter(_._1 == q).toSeq.sortBy(_._4).map(_._2)
    assert(ids(1) == Seq(6L, 7L, 8L, 5L), "spill copy of 7 is one row")
    assert(ids(2) == Seq(10L, 11L, 20L, 21L), "ties break to the smaller id")
    assert(ids(3) == Seq(4L, 5L, 6L, 7L), "A's global top-2 come from partition 1")
    assert(ids(4) == Seq(1L, 3L), "per-query k=2, cap=1")
    assert(ids(5) == Seq(1L, 2L, 4L, 5L), "null values share one cap")
    assert(got.filter(_._1 == 6L).toSeq.sortBy(_._4).map(r => (r._2, r._3)) ==
      Seq((1L, "NaN"), (5L, "1.0"), (7L, "0.5"), (3L, "-0.0")),
      "NaN first, then -0.0 ties 0.0 and the smaller id wins")
  }

  test("TopKCrowded: null scores rank last and are kept") {
    val copies = Seq(c(1, 1, null, A), c(1, 2, 1.0, B), c(1, 3, null, None))
    val got = aggregate(Seq(copies.take(1), copies.drop(1)), K, Some(Cap),
      stringIds = false)
    assert(got == Set((1L, 2L, "1.0", 1L), (1L, 1L, "null", 2L),
      (1L, 3L, "null", 3L)))
  }

  test("TopKCrowded: copies of one id that disagree on the crowding " +
      "value — the best copy its own value admits is served") {
    // one partition: the walk is deterministic
    // the best copy is kept and counted under ITS value: id 1 takes A's
    // slot, its weaker B copy takes none, so id 3 fits under B
    val kept = Seq(c(1, 1, 9.0, A), c(1, 1, 3.0, B), c(1, 2, 4.0, A),
      c(1, 3, 2.0, B))
    assert(aggregate(Seq(kept), K, Some(1), stringIds = false) ==
      Set((1L, 1L, "9.0", 1L), (1L, 3L, "2.0", 2L)))
    // the best copy is crowded out: it blocks nothing, and the weaker
    // copy under another value is served in its place
    val crowded = Seq(c(1, 9, 9.0, A), c(1, 1, 5.0, A), c(1, 1, 3.0, B))
    assert(aggregate(Seq(crowded), K, Some(1), stringIds = false) ==
      Set((1L, 9L, "9.0", 1L), (1L, 1L, "3.0", 2L)))
    // across partitions the id still appears at most once, with the
    // score of one of its copies, and every value holds ≤ cap rows
    for (split <- 0 to crowded.length) {
      val got = aggregate(Seq(crowded.take(split), crowded.drop(split)), K,
        Some(1), stringIds = false)
      assert(got.toSeq.map(_._2).distinct.length == got.size, s"split $split")
      assert(got.exists(_._2 == 9L), s"split $split")
      assert(got.filter(_._2 == 1L).forall(r => r._3 == "5.0" || r._3 == "3.0"))
    }
  }

  private def s(q: Long, id: Long, sl: java.lang.Double, x: java.lang.Double,
      a: Option[Int]) = Copy(q, id, x, a, sl)

  /** Shortlist-mode copies (sl, exact score), two partitions. */
  private lazy val slParts: Seq[Seq[Copy]] = {
    val p0 = Seq(
      // 11: sign-dot ties straddle the m boundary (ids 2..7 tie at 5.0);
      //     the exact order is the reverse of the id order
      s(11, 1, 9.0, 1.0, A), s(11, 2, 5.0, 2.0, B), s(11, 4, 5.0, 4.0, Some(3)),
      s(11, 6, 5.0, 6.0, Some(4)),
      // 12: spill copies of id 5 in both partitions
      s(12, 5, 3.0, 0.5, A), s(12, 6, 2.0, 3.0, A), s(12, 7, 1.0, 4.0, B),
      // 14: per-query k = 2 and cap = 1
      s(14, 1, 9.0, 1.0, A), s(14, 2, 8.0, 5.0, A), s(14, 3, 7.0, 2.0, B),
      // 15: null crowding values form one group
      s(15, 1, 4.0, 3.0, None), s(15, 2, 3.0, 2.0, None), s(15, 3, 2.0, 1.0, None),
      // 16: fewer candidates than m
      s(16, 9, 1.0, 1.0, A),
      // 17: copies of one id that disagree (a pinned handle): id 1's
      //     best sign-dot copy has the WORSE exact score and is served;
      //     id 2's copies tie on the sign-dot, the better exact wins;
      //     id 4's best sign-dot copy sits under value B
      s(17, 1, 8.0, 1.0, A), s(17, 2, 7.0, 2.0, A), s(17, 4, 9.0, 0.5, B))
    val p1 = Seq(
      s(11, 3, 5.0, 3.0, Some(5)), s(11, 5, 5.0, 5.0, Some(6)),
      s(11, 7, 5.0, 9.0, Some(7)), s(11, 8, 1.0, 8.0, Some(8)),
      s(12, 5, 3.0, 0.5, A), s(12, 8, 0.5, 9.0, B),
      s(14, 4, 6.0, 4.0, B), s(14, 5, 5.0, 3.0, Some(3)),
      s(15, 4, 1.0, 0.5, A),
      s(16, 8, 2.0, 0.25, B),
      s(17, 1, 6.0, 9.0, A), s(17, 2, 7.0, 3.0, A), s(17, 3, 5.0, 5.0, Some(9)),
      s(17, 4, 1.0, 7.0, A))
    Seq(p0, p1)
  }

  test("TopKCrowded shortlist mode rows == best sign-dot copy per id → " +
      "top m by (sign-dot, id) → crowding cap and top k by exact score") {
    val all = slParts.flatten
    val kOf = (q: Long) => math.min(K, perQueryK.getOrElse(q, K))
    val capOf = (q: Long) => math.min(Cap, perQueryCap.getOrElse(q, Cap))
    val strOrd = Ordering.by[Long, String](i => f"d$i%03d")
    val sortedRows = (r: Set[(Long, Any, String, Long)]) =>
      r.toSeq.sortBy(x => (x._1, x._4)).mkString("\n")
    for (m <- Seq(K, 5, 8); stringIds <- Seq(false, true);
         crowd <- Seq(true, false)) {
      val want = shortlistFormula(
        if (crowd) all else all.map(_.copy(attr = None)), m, kOf,
        if (crowd) capOf else (_ => Int.MaxValue),
        if (stringIds) strOrd else Ordering.Long,
        i => if (stringIds) f"d$i%03d" else i)
      val capOpt = if (crowd) Some(Cap) else None
      for (split <- Seq(slParts, Seq(all), Seq(all.reverse.take(13),
          all.reverse.drop(13)))) {
        val got = aggregate(split, K, capOpt, stringIds, Some(m))
        assert(got == want, s"m=$m stringIds=$stringIds crowd=$crowd " +
          s"split=${split.map(_.length)}\ngot:\n${sortedRows(got)}\n" +
          s"want:\n${sortedRows(want)}")
      }
    }
    // the cases the data is built for, spelled out (m = k = 4, crowded)
    val got = aggregate(slParts, K, Some(Cap), stringIds = false, Some(K))
    def rows(q: Long) = got.filter(_._1 == q).toSeq.sortBy(_._4)
      .map(r => (r._2, r._3))
    assert(rows(11) == Seq((4L, "4.0"), (3L, "3.0"), (2L, "2.0"), (1L, "1.0")),
      "sign-dot ties at m keep the smaller ids, ranked by exact score")
    assert(rows(12) == Seq((8L, "9.0"), (7L, "4.0"), (6L, "3.0"), (5L, "0.5")),
      "spill copies of 5 are one id")
    assert(rows(14) == Seq((2L, "5.0"), (4L, "4.0")), "per-query k=2, cap=1")
    assert(rows(15).map(_._1) == Seq(1L, 2L, 4L), "null values share one cap")
    assert(rows(16) == Seq((9L, "1.0"), (8L, "0.25")), "fewer than m")
    assert(rows(17) == Seq((3L, "5.0"), (2L, "3.0"), (1L, "1.0"), (4L, "0.5")),
      "the best sign-dot copy is served, with its own exact score")
    // m = 5 admits id 5 on query 11 and drops nothing else
    assert(aggregate(slParts, K, Some(Cap), stringIds = false, Some(5))
      .filter(_._1 == 11L).toSeq.sortBy(_._4).map(_._2) == Seq(5L, 4L, 3L, 2L))
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/idx"

  /** Driver-side formula over Spark-scored (qid, id, score, label)
    * candidates of `serving`'s data, probing like the batch does. */
  private def servedByFormula(serving: Serving, qs: Seq[(Long, Seq[Double])],
      nProbe: Int, k: Int, cap: Int): Set[(Long, Any, String, Long)] = {
    val probed = qs.flatMap { case (q, v) =>
      serving.model.topLeaves(v.toArray, nProbe).map(l => (q, l, v)) }
      .toDF("qid", "leaf_id", "qv")
    val copies = serving.data.join(probed, Seq("leaf_id"))
      .select(col("qid"), col("vec_id"),
        graft.functions.vectors.dotProduct(col("v"), col("qv")).as("s"),
        col("label"))
      .collect().map(r => Copy(r.getLong(0), r.getLong(1), r.getDouble(2),
        Some(r.getInt(3)))).toSeq
    formula(copies, _ => k, _ => cap, Ordering.Long, identity)
  }

  private def rowsOf(df: DataFrame): Set[(Long, Any, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.get(1),
      String.valueOf(r.getDouble(2)), r.getLong(3))).toSet

  /** A pinned [[Serving.openAt]] handle holding two versions of every
    * 7th id (same label, version 2's vector = `shift` of version 1's),
    * with sign codes, and 6 of those ids' version-1 vectors as queries. */
  private def pinnedHandle(tag: String,
      shift: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : (Serving, Seq[(Long, Seq[Double])]) = {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"),
      lit(1L).as("version"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = tmpDir(tag)
    IvfIndex.write(indexed.withColumn("bq_code",
      graft.functions.bquant.packSigns(col("v"))), dir, model)
    IndexMaintenance.appendToServing(spark, dir,
      emb.filter(col("vec_id") % 7 === 0)
        .withColumn("v", transform(col("v"), shift))
        .withColumn("version", lit(2L)), "vec_id", "v", "version")
    val pinned = (1 to 8).flatMap(v => Serving.openAt(spark, dir, v,
        vecCol = "v")).filter(_.data.filter(col("version") === 2L)
        .limit(1).count() == 1).head
    assert(pinned.data.groupBy("vec_id").agg(countDistinct("version").as("n"))
      .filter(col("n") === 2).limit(1).count() == 1,
      "the pinned handle must hold two versions of some id")
    val qs = emb.filter(col("vec_id") % 7 === 0).limit(6)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    (pinned, qs)
  }

  test("a pinned openAt handle holding two versions of one id: the " +
      "batch serves each id once, with its better version's score") {
    val (pinned, qs) = pinnedHandle("graft_batchtail_pinned", x => x * 0.5 + 0.01)
    val got = rowsOf(pinned.searchBatch(qs.toDF("qid", "qv"), "qid", "qv",
      3, 10, Nil, Some(("label", 2)), None))
    assert(got == servedByFormula(pinned, qs, 3, 10, 2))
  }

  test("a pinned openAt handle holding x and 2x of one id: single " +
      "requests serve the same copy as the batch, raw and BQ") {
    val (pinned, qs) = pinnedHandle("graft_batchtail_pinned2x", x => x * 2.0)
    val crowd = Some(("label", 2))
    def perQuery(df: DataFrame): Map[Long, Seq[(Long, Double, Long)]] =
      df.collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.toSeq.map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
          .sortBy(_._3) }
    val batch = perQuery(pinned.searchBatch(qs.toDF("qid", "qv"), "qid", "qv",
      3, 10, Nil, crowd, None))
    val bqBatch = perQuery(pinned.searchBatchBqRerank(qs.toDF("qid", "qv"),
      "qid", "qv", 3, 25, 10, Nil, crowd))
    assert(batch.keySet == qs.map(_._1).toSet && bqBatch.keySet == batch.keySet)
    for ((q, v) <- qs) {
      val single = pinned.search(v.toArray, 3, 10, Nil, crowd, None).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(single == batch(q), s"qid $q: search vs searchBatch\n" +
        s"single=$single\nbatch=${batch(q)}")
      val bq = pinned.searchBqRerank(v.toArray, 3, 25, 10, Nil, crowd)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(bq == bqBatch(q), s"qid $q: searchBqRerank vs " +
        s"searchBatchBqRerank\nsingle=$bq\nbatch=${bqBatch(q)}")
      // the query's own id is served once, by its 2x copy
      assert(single.count(_._1 == q) == 1 &&
        single.find(_._1 == q).exists(_._2 > 1.5), s"qid $q: $single")
    }
  }

  test("a query left with no candidates after restricts has no rows") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = tmpDir("graft_batchtail_empty")
    IvfIndex.write(indexed, dir, model)
    val serving = Serving.open(spark, dir, vecCol = "v")
    val qs = emb.filter(col("vec_id") < 2L).select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1),
        if (r.getLong(0) == 0L) Some(Map("label" -> Seq("no-such-label")))
        else None))
      .toSeq.toDF("qid", "qv", "allow")
    val got = serving.searchBatchPerQuery(qs, "qid", "qv", "allow",
      Seq("label"), nProbe = 3, k = 5, crowding = Some(("label", 2)))
      .collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) == 1L),
      s"query 0 has no admissible candidate: ${got.toSeq}")
    assert(serving.searchBatch(qs.select("qid", "qv"), "qid", "qv", 3, 5,
      Seq(col("label") < -1), Some(("label", 2)), None).collect().isEmpty)
  }

  /** The executed plan's nodes, walking into the AQE query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def partialTopK(p: SparkPlan): Boolean = nodes(p).exists {
    case a: ObjectHashAggregateExec => a.aggregateExpressions.exists(e =>
      e.mode == Partial && e.aggregateFunction.isInstanceOf[TopKCrowded])
    case _ => false
  }

  /** Spark jobs `body` runs (a marker job flushes the listener bus). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "batch-tail-jobs"
    val marker = "batch-tail-jobs-end"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty[String])
        if (tags(marker)) done.countDown()
        else if (tags(tag)) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = body
      sc.removeJobTag(tag)
      sc.addJobTag(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.removeJobTag(marker)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally {
      sc.clearJobTags()
      sc.removeSparkListener(listener)
    }
  }

  private lazy val tiers = {
    import graft.functions.{bquant, quantize}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    def layout(df: DataFrame): String = {
      val dir = tmpDir("graft_batchtail_plan")
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
    (emb, raw, sq, pq)
  }

  /** An in-memory (LocalRelation) query frame of `n` layout vectors. */
  private def localQueries(n: Int): DataFrame = {
    val (emb, _, _, _) = tiers
    val vs = emb.orderBy("vec_id").limit(64).select("v").collect()
      .map(_.getSeq[Double](0))
    val rows = (0 until n).map(i => Row(i.toLong, vs(i % vs.length)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("qid", LongType),
        StructField("qv", ArrayType(DoubleType, containsNull = false)))))
  }

  private def surfaces(np: Int, r: Seq[org.apache.spark.sql.Column])
      : Seq[(String, DataFrame => DataFrame)] = {
    val (_, raw, sq, pq) = tiers
    val crowd = Some(("label", 3))
    Seq(
      "raw" -> (qs => raw.searchBatch(qs, "qid", "qv", np, 10, r, crowd, None)),
      "sq8" -> (qs => sq.searchBatchSq(qs, "qid", "qv", np, 10, r, crowd)),
      "pq" -> (qs => pq.searchBatchAdc(qs, "qid", "qv", np, 10, r, crowd)),
      "bq" -> (qs => raw.searchBatchBqRerank(qs, "qid", "qv", np, 40, 10, r,
        crowd)))
  }

  test("plan: a crowded raw, SQ8, PQ or BQ batch takes ONE exchange " +
      "with the partial top-k below it and no Window") {
    val qs = localQueries(64)
    for ((name, surface) <- surfaces(3, Seq(col("label") >= 0))) {
      val df = surface(qs)
      assert(df.collect().length > 64, name)
      val plan = df.queryExecution.executedPlan
      val all = nodes(plan)
      assert(!all.exists(_.isInstanceOf[WindowExec]), s"$name: a Window node")
      val ex = all.collect { case e: ShuffleExchangeLike => e }
      assert(ex.length == 1, s"$name: want one exchange, got ${ex.length}")
      assert(partialTopK(ex.head.asInstanceOf[SparkPlan]),
        s"$name: no partial TopKCrowded below the exchange:\n$plan")
    }
  }

  test("building a 64-query in-memory batch runs no Spark job; a parquet " +
      "frame and an in-memory frame past the row bound still checkpoint " +
      "and serve identical rows") {
    val qs = localQueries(64)
    val qDir = tmpDir("graft_batchtail_qs")
    qs.write.parquet(qDir)
    val fromParquet = spark.read.parquet(qDir)
    // 8 leaves × 8,193 rows > IvfIndex.MaxSingleRows (65,536)
    val big = localQueries(8193)
    val r = Seq(col("vec_id") < 300L)
    for ((name, surface) <- surfaces(8, r)) {
      val (df, built) = jobsDuring(surface(qs))
      assert(built == 0, s"$name: building an in-memory batch ran $built jobs")
      val want = rowsOf(df)
      val (pdf, pJobs) = jobsDuring(surface(fromParquet))
      assert(pJobs > 0, s"$name: a parquet query frame must checkpoint")
      assert(rowsOf(pdf) == want, s"$name: parquet frame rows differ")
      if (name == "raw") {
        val (bdf, bJobs) = jobsDuring(surface(big))
        assert(bJobs > 0, s"$name: a frame past the row bound must checkpoint")
        assert(rowsOf(bdf.filter(col("qid") < 64L)) == want,
          s"$name: rows past the row bound differ")
      }
    }
  }
}
