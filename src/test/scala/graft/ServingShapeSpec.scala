package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, ProductQuantizer, Serving}

/** Round-10 serving-surface contracts: the full serving shape
  * (restricts + crowding + metadata) on the CODED tiers, per-query
  * restricts in one batch, and the adaptive exact path's broadcast
  * guard. The driver gates (`r_serve_sq_full`, `r_serve_restricts`)
  * hash-check the same surfaces against DuckDB; these specs pin the
  * cross-path invariants a value oracle can't see (tail parity with
  * the raw path, plan shape, backward-compatible default output).
  */
class ServingShapeSpec extends SparkTestBase {
  import spark.implicits._

  /** Scores separated by 8% per rank with the mass on ONE coordinate:
    * SQ8 quantizes that coordinate to exactly 127, so the quantized
    * score differs from the raw score only by the rescale's final
    * rounding (≤ 1 ulp) — ranking can never flip between tiers,
    * making raw-vs-SQ row equality (scores to 1e-12 relative) a fair
    * assertion. Labels in blocks of 10 so a crowding cap of 2
    * visibly reshapes the top-5 (the top candidates share a label).
    */
  private def separatedCorpus(n: Int, dim: Int) =
    (0 until n).map { i =>
      (i.toLong, i / 10,
        Seq.tabulate(dim)(j => if (j == 0) math.pow(1.08, i) else 0.0))
    }.toDF("vec_id", "label", "v")

  test("SQ full tail (restricts+crowding+metadata) is row-identical " +
      "to the raw path's searchDf tail") {
    import graft.functions.quantize
    val corpus = separatedCorpus(40, 8)
    val model = IvfIndex.Model(
      Array(Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)))
    val indexed = corpus.withColumn("leaf_id", lit(0))
    val sqDir = java.nio.file.Files
      .createTempDirectory("graft_shape_sq").toString + "/idx"
    val sq = indexed
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v")
    IvfIndex.write(sq, sqDir, model)

    val q = Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)
    val meta = corpus.select(col("vec_id"),
      concat(lit("doc-"), col("vec_id")).as("title"))
    val restricts = Seq(col("vec_id") >= 5)
    val crowding = Some(("label", 2))

    val raw = IvfIndex.searchDf(indexed, model, q, 1, 5, "vec_id", "v",
        restricts, crowding, Some((meta, "vec_id")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val viaSq = Serving.open(spark, sqDir, id = "vec_id", vecCol = "v")
      .searchSq(q, 1, 5, restricts, crowding, Some((meta, "vec_id")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(raw.nonEmpty && raw.length == viaSq.length)
    raw.zip(viaSq).foreach { case ((rid, rt, rs, rr), (sid, st, ss, sr)) =>
      assert(rid == sid && rt == st && rr == sr,
        s"SQ tail must mirror the raw tail:\nraw=$raw\nsq =$viaSq")
      // the SQ rescale rounds once more than the raw dot — ≤ 1 ulp here
      assert(math.abs(rs - ss) <= math.abs(rs) * 1e-12,
        s"scores drift beyond rounding: raw=$rs sq=$ss")
    }
    // construction check: crowding actually fired (3 labels, cap 2,
    // k=5 — without the cap the top-5 would be the top-5 ids)
    val uncapped = IvfIndex.searchDf(indexed, model, q, 1, 5, "vec_id",
        "v", restricts, None, Some((meta, "vec_id")))
      .collect().map(_.getLong(0)).toSeq
    assert(uncapped != raw.map(_._1), "crowding must change the result")
  }

  test("ADC batch full shape: crowding capped, metadata attached, " +
      "default output schema unchanged") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val pqIds = (0 until 16).map(c => c * 31L + 5L)
    val cb = ProductQuantizer.codebook(
      Tables.embeddings(spark, sf), "vec_id", "embedding", pqIds)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_pq").toString + "/idx"
    val coded = emb
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v")
    IvfIndex.write(coded, dir, model)
    ProductQuantizer.writeCodebook(spark, dir, cb)
    val serving = Serving.open(spark, dir)
    assert(serving.tier == "pq")

    val queries = emb.filter(col("vec_id").isin(7L, 21L))
      .select(col("vec_id").as("qid"), col("v"))

    // backward-compat: the bare batch output is (qid, id, adc_score, rn)
    val bare = serving.searchBatchAdc(queries, "qid", "v", 2, 5)
    assert(bare.columns.toSeq == Seq("qid", "vec_id", "adc_score", "rn"))
    assert(bare.count() > 0)

    val full = serving.searchBatchAdc(queries, "qid", "v", 2, 5,
      restricts = Seq(col("vec_id") >= 10),
      crowding = Some(("label", 2)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")))
    assert(full.columns.toSeq == Seq("qid", "vec_id", "label", "adc_score", "rn"))
    val rows = full.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 10, "restrict must hold"))
    // crowding: ≤ 2 rows per (query, label)
    rows.groupBy(r => (r.getLong(0), r.getInt(2))).foreach { case (k, g) =>
      assert(g.length <= 2, s"crowding cap violated for $k")
    }
    // rn contiguous from 1 per query
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(4)).sorted.toSeq ==
        (1L to g.length.toLong).toSeq)
    }
  }

  test("ADC batch per-query allow/k/cap: limits bind per tenant and " +
      "match the per-query searchAdc under equivalent restricts") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val pqIds = (0 until 16).map(c => c * 31L + 5L)
    val cb = ProductQuantizer.codebook(
      Tables.embeddings(spark, sf), "vec_id", "embedding", pqIds)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_pqperq").toString + "/idx"
    val coded = emb
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v")
    IvfIndex.write(coded, dir, model)
    ProductQuantizer.writeCodebook(spark, dir, cb)
    val serving = Serving.open(spark, dir)
    val meta = emb.select("vec_id", "label")

    val limsOf = Map(
      7L -> (Some(Map("label" -> Seq("3", "7"))), 2, 1),
      21L -> (None: Option[Map[String, Seq[String]]], 4, 2))
    val lims = limsOf.toSeq.map { case (q, (a, kq, cq)) => (q, a, kq, cq) }
      .toDF("qid", "allow", "kq", "capq")
    val queries = emb.filter(col("vec_id").isin(7L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(lims, "qid")

    val got = serving.searchBatchAdc(queries, "qid", "v", nProbe = 2,
        k = 5, restricts = Seq(col("vec_id") >= 10),
        crowding = Some(("label", 3)),
        metadata = Some((meta, "vec_id")),
        allowCol = Some("allow"), attrs = Seq("label"),
        kCol = Some("kq"), capCol = Some("capq"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq).toMap
    assert(got.keySet == Set(7L, 21L))

    for ((qid, (allow, kq, cq)) <- limsOf) {
      val q = emb.filter(col("vec_id") === qid)
        .select(col("v")).head().getSeq[Double](0).toArray
      val equivalent = Seq(col("vec_id") >= 10) ++ allow.toSeq.flatMap(
        _.get("label").map(vs => col("label").cast("string").isin(vs: _*)))
      val per = serving.searchAdc(q, nProbe = 2, k = kq, equivalent,
          crowding = Some(("label", cq)),
          metadata = Some((meta, "vec_id")))
        .collect().sortBy(_.getLong(3))
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(got(qid) == per,
        s"per-query ADC batch and single searchAdc diverge for $qid:\n" +
          s"batch=${got(qid)}\nsingle=$per")
      assert(got(qid).length <= kq)
      got(qid).groupBy(_._2).foreach { case (_, g) => assert(g.length <= cq) }
    }
    assert(got(7L).length != got(21L).length,
      "the per-query limits must visibly differ between tenants")

    // limit contract is validated in-plan on EVERY surface: a 0 (or
    // negative / non-castable) per-query k or cap would silently
    // empty that tenant's results — the plan raises instead
    val zeroK = queries.withColumn("kq",
      when(col("qid") === 7L, lit(0)).otherwise(col("kq")))
    val ez = intercept[Exception] {
      serving.searchBatchAdc(zeroK, "qid", "v", nProbe = 2, k = 5,
        kCol = Some("kq")).collect()
    }
    assert(ez.getMessage.contains("positive") ||
      Option(ez.getCause).exists(_.getMessage.contains("positive")),
      s"zero per-query k must raise loudly: ${ez.getMessage}")
    val negCap = queries.withColumn("capq",
      when(col("qid") === 21L, lit(-3)).otherwise(col("capq")))
    val ec = intercept[Exception] {
      serving.searchBatchAdc(negCap, "qid", "v", nProbe = 2, k = 5,
        crowding = Some(("label", 3)),
        kCol = Some("kq"), capCol = Some("capq")).collect()
    }
    assert(ec.getMessage.contains("positive") ||
      Option(ec.getCause).exists(_.getMessage.contains("positive")),
      s"negative per-query cap must raise loudly: ${ec.getMessage}")
  }

  test("searchBatchPerQuery == per-query searchBatch with the " +
      "equivalent column restrict") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_perq").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    val allowOf = Map(
      3L -> Some(Map("label" -> Seq("0", "1"))),
      7L -> Some(Map("label" -> Seq("2"))),
      42L -> (None: Option[Map[String, Seq[String]]]))
    val allows = allowOf.toSeq.toDF("qid", "allow")
    val queries = emb.filter(col("vec_id").isin(3L, 7L, 42L))
      .select(col("vec_id").as("qid"), col("v")).join(allows, "qid")
    val meta = emb.select("vec_id", "label")

    val got = serving.searchBatchPerQuery(queries, "qid", "v", "allow",
        Seq("label"), nProbe = 3, k = 5,
        restricts = Seq(col("vec_id") >= 10),
        crowding = Some(("label", 2)),
        metadata = Some((meta, "vec_id")))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq).toMap
    assert(got.keySet == Set(3L, 7L, 42L))

    for ((qid, allow) <- allowOf) {
      val one = queries.filter(col("qid") === qid).drop("allow")
      val equivalent = Seq(col("vec_id") >= 10) ++ allow.toSeq.flatMap(
        _.get("label").map(vs =>
          col("label").cast("string").isin(vs: _*)))
      val per = serving.searchBatch(one, "qid", "v", 3, 5, equivalent,
          Some(("label", 2)), Some((meta, "vec_id")))
        .collect().sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      assert(got(qid) == per,
        s"per-query map and equivalent column restrict diverge for " +
          s"$qid:\nmap=${got(qid)}\ncol=$per")
      // the allow-list actually constrains (queries 3 and 7)
      allowOf(qid).foreach(m => m.get("label").foreach { vs =>
        got(qid).foreach { case (_, label, _) =>
          assert(vs.contains(label.toString),
            s"query $qid returned label $label outside its allow-list")
        }
      })
    }
  }

  test("searchBatchAdaptive exact path: past the query threshold the " +
      "query frame is NOT broadcast (shuffled cartesian), results equal") {
    import graft.operators.ServingManifest
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_guard").toString + "/idx"
    val indexed = emb.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, dir, model)
    ServingManifest.promote(spark, dir, Seq("version"))
    val b1 = emb.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    IndexMaintenance.appendToServing(spark, dir, b1, "vec_id", "v",
      "version", spill = 1)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    val sel = Seq(col("version") >= 2)
    assert(serving.searchAdaptivePlan(sel, 0.5), "setup: selective")

    val qdf = emb.filter(col("vec_id").isin(0L, 5L, 9L, 13L, 17L, 21L))
      .select(col("vec_id").as("qid"), col("v"))
    val small = serving.searchBatchAdaptive(qdf, "qid", "v", 2, 10, sel,
      maxExactFraction = 0.5)
    val smallRows = small.collect().toSeq
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastNestedLoopJoin"),
      s"below the threshold the query frame broadcasts:\n$smallPlan")

    val guarded = serving.searchBatchAdaptive(qdf, "qid", "v", 2, 10,
      sel, maxExactFraction = 0.5, maxBroadcastQueries = 3L)
    val guardedRows = guarded.collect().toSeq
    val guardedPlan = guarded.queryExecution.executedPlan.toString
    assert(!guardedPlan.contains("BroadcastNestedLoopJoin"),
      s"past the threshold the query frame must not broadcast:\n$guardedPlan")
    assert(guardedPlan.contains("CartesianProduct"),
      s"the guarded pair generation is the shuffled cartesian:\n$guardedPlan")
    assert(smallRows.toSet == guardedRows.toSet && smallRows.nonEmpty,
      "both pair-generation plans must score the same pairs")

    // "always broadcast": Long.MaxValue must not overflow the probe
    // limit into a negative limit() that throws at plan time
    val always = serving.searchBatchAdaptive(qdf, "qid", "v", 2, 10,
      sel, maxExactFraction = 0.5, maxBroadcastQueries = Long.MaxValue)
    assert(always.collect().toSet == smallRows.toSet)
  }

  test("SQ batch per-query allow/k/cap == per-query searchSq with the " +
      "equivalent restrict and limits") {
    import graft.functions.quantize
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_sqperq").toString + "/idx"
    val sq = emb
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v")
    IvfIndex.write(sq, dir, model)
    val serving = Serving.open(spark, dir)
    assert(serving.tier == "sq")
    val meta = emb.select("vec_id", "label")

    val limsOf = Map(
      7L -> (Some(Map("label" -> Seq("3", "7"))), 2, 1),
      21L -> (Some(Map("label" -> Seq("1"))), 3, 2),
      33L -> (None: Option[Map[String, Seq[String]]], 5, 3))
    val lims = limsOf.toSeq.map { case (q, (a, kq, cq)) => (q, a, kq, cq) }
      .toDF("qid", "allow", "kq", "capq")
    val queries = emb.filter(col("vec_id").isin(7L, 21L, 33L))
      .select(col("vec_id").as("qid"), col("v")).join(lims, "qid")

    val got = serving.searchBatchSq(queries, "qid", "v", nProbe = 2,
        k = 5, restricts = Seq(col("vec_id") >= 10),
        crowding = Some(("label", 3)),
        metadata = Some((meta, "vec_id")),
        allowCol = Some("allow"), attrs = Seq("label"),
        kCol = Some("kq"), capCol = Some("capq"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq).toMap
    assert(got.keySet == Set(7L, 21L, 33L))

    for ((qid, (allow, kq, cq)) <- limsOf) {
      val q = emb.filter(col("vec_id") === qid)
        .select(col("v")).head().getSeq[Double](0).toArray
      val equivalent = Seq(col("vec_id") >= 10) ++ allow.toSeq.flatMap(
        _.get("label").map(vs => col("label").cast("string").isin(vs: _*)))
      val per = serving.searchSq(q, nProbe = 2, k = kq, equivalent,
          crowding = Some(("label", cq)),
          metadata = Some((meta, "vec_id")))
        .collect().sortBy(_.getLong(3))
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(got(qid) == per,
        s"per-query SQ batch and single searchSq diverge for $qid:\n" +
          s"batch=${got(qid)}\nsingle=$per")
      // limits actually bind: kq rows at most, per-label ≤ cq
      assert(got(qid).length <= kq)
      got(qid).groupBy(_._2).foreach { case (_, g) =>
        assert(g.length <= cq) }
    }
    // the three tenants got DIFFERENT result counts — the per-query
    // limits visibly reshaped one plan's output
    assert(got.values.map(_.length).toSet.size > 1)
  }

  test("searchBatchPerQueryAdaptive: a selective allow-map escapes " +
      "the probed plan and recovers rows from unprobed leaves") {
    import graft.operators.ServingManifest
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_padapt").toString + "/idx"
    val indexed = emb.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, dir, model)
    ServingManifest.promote(spark, dir, Seq("version"))
    // planted: negated vectors at version 2 — they live in leaves a
    // probe for the (positive) query ranks LAST, the classic
    // filtered-ANN recall failure
    val planted = emb.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    IndexMaintenance.appendToServing(spark, dir, planted, "vec_id", "v",
      "version", spill = 1)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    val selective = Map("version" -> Seq("2"))
    assert(serving.perQueryAdaptivePlan(selective, 0.35),
      "the version=2 map must be proven selective by file stats")
    assert(!serving.perQueryAdaptivePlan(Map("version" -> Seq("1")), 0.35),
      "the version=1 map (every build file) must stay on the probed plan")

    val allows = Seq(
      (0L, Some(selective)),
      (21L, None: Option[Map[String, Seq[String]]])).toDF("qid", "allow")
    val queries = emb.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(allows, "qid")

    val adaptive = serving.searchBatchPerQueryAdaptive(queries, "qid",
        "v", "allow", Seq("version"), nProbe = 2, k = 10,
        maxExactFraction = 0.35)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val plain = serving.searchBatchPerQuery(queries, "qid", "v",
        "allow", Seq("version"), nProbe = 2, k = 10)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap

    // the selective tenant: full recall — the true filtered top-10 is
    // the exact scan over version-2 rows
    val exact = serving.data.filter(col("version") === 2)
      .select(col("vec_id"),
        graft.functions.vectors.dotProduct(col("v"), typedLit(
          emb.filter(col("vec_id") === 0L).select("v")
            .head().getSeq[Double](0))).as("score"))
      .groupBy("vec_id").agg(max("score").as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(adaptive(0L) == exact,
      s"adaptive must return the exact filtered top-k:\n" +
        s"got=${adaptive(0L)}\nexact=$exact")
    assert(plain.getOrElse(0L, Set.empty) != exact,
      "setup: the probed plan must actually miss planted rows — " +
        "otherwise this spec proves nothing")
    // the unrestricted tenant rides the probed plan — identical rows
    // either way
    assert(adaptive(21L) == plain(21L),
      "the unrestricted query's probed results must be unchanged")

    // per-query k composes with the adaptive split: the EXACT side
    // honors __k through the shared dynamic tail, the probed side too
    val qk = emb.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v"))
      .join(Seq((0L, Some(selective), 3),
        (21L, None: Option[Map[String, Seq[String]]], 5))
        .toDF("qid", "allow", "kq"), "qid")
    val withK = serving.searchBatchPerQueryAdaptive(qk, "qid", "v",
        "allow", Seq("version"), nProbe = 2, k = 10,
        kCol = Some("kq"), maxExactFraction = 0.35)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(withK(0L).size == 3 && withK(0L).subsetOf(exact),
      "exact-side tenant must get its per-query top-3 of the exact set")
    assert(withK(21L).size == 5 && withK(21L).subsetOf(adaptive(21L)),
      "probed-side tenant must get its per-query top-5")
  }

  test("searchBatchSqAdaptive: a selective allow-map escapes the " +
      "probed plan on the SQ8 tier and recovers planted rows") {
    import graft.functions.quantize
    import graft.operators.ServingManifest
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_sqadapt").toString + "/idx"
    val sq = emb
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v")
    IvfIndex.write(sq, dir, model)
    ServingManifest.promote(spark, dir, Seq("version"))
    val planted = emb.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2L))
    IndexMaintenance.appendSqToServing(spark, dir, planted,
      "vec_id", "v", "version")
    val serving = Serving.open(spark, dir)
    assert(serving.tier == "sq")
    val selective = Map("version" -> Seq("2"))
    assert(serving.perQueryAdaptivePlan(selective, 0.35))
    assert(!serving.perQueryAdaptivePlan(Map("version" -> Seq("1")), 0.35))

    val q0 = emb.filter(col("vec_id") === 0L)
      .select("v").head().getSeq[Double](0).toArray
    val allows = Seq(
      (0L, Some(selective)),
      (21L, None: Option[Map[String, Seq[String]]])).toDF("qid", "allow")
    val queries = emb.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(allows, "qid")

    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val adaptive = ids(serving.searchBatchSqAdaptive(queries, "qid", "v",
      "allow", Seq("version"), nProbe = 2, k = 10,
      maxExactFraction = 0.35))
    val plain = ids(serving.searchBatchSq(queries, "qid", "v",
      nProbe = 2, k = 10, allowCol = Some("allow"),
      attrs = Seq("version")))

    // exact filtered top-10 under the SQ kernel — the recall bar
    val (qma, qpk) = quantize.packLocal(q0)
    val expected = serving.data.filter(col("version") === 2L)
      .select(col("vec_id"), quantize.score(
        quantize.packedDot(col("sq_code"), lit(qpk)),
        col("ma"), lit(qma)).as("s"))
      .groupBy("vec_id").agg(max("s").as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(adaptive(0L) == expected,
      s"SQ adaptive must return the exact filtered top-k:\n" +
        s"got=${adaptive(0L)}\nexact=$expected")
    assert(plain.getOrElse(0L, Set.empty) != expected,
      "setup: the probed SQ plan must actually miss planted rows")
    assert(adaptive(21L) == plain(21L),
      "the unrestricted query's probed SQ results must be unchanged")
  }

  test("searchBatchAdcAdaptive: the adaptive escape on the PQ tier — " +
      "exact ADC recall for the selective tenant, probed unchanged") {
    import graft.operators.ServingManifest
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val pqIds = (0 until 16).map(c => c * 31L + 5L)
    val cb = ProductQuantizer.codebook(
      Tables.embeddings(spark, sf), "vec_id", "embedding", pqIds)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_adcadapt").toString + "/idx"
    val coded = emb
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v")
    IvfIndex.write(coded, dir, model)
    ProductQuantizer.writeCodebook(spark, dir, cb)
    ServingManifest.promote(spark, dir, Seq("version"))
    val planted = emb.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2L))
    IndexMaintenance.appendCodedToServing(spark, dir, planted,
      "vec_id", "v", "version")
    val serving = Serving.open(spark, dir)
    assert(serving.tier == "pq")
    val selective = Map("version" -> Seq("2"))
    assert(serving.perQueryAdaptivePlan(selective, 0.45))
    assert(!serving.perQueryAdaptivePlan(Map("version" -> Seq("1")), 0.45))

    val q0 = emb.filter(col("vec_id") === 0L)
      .select("v").head().getSeq[Double](0).toArray
    val allows = Seq(
      (0L, Some(selective)),
      (21L, None: Option[Map[String, Seq[String]]])).toDF("qid", "allow")
    val queries = emb.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(allows, "qid")

    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val adaptive = ids(serving.searchBatchAdcAdaptive(queries, "qid", "v",
      "allow", Seq("version"), nProbe = 2, k = 10,
      maxExactFraction = 0.45))
    val plain = ids(serving.searchBatchAdc(queries, "qid", "v",
      nProbe = 2, k = 10, allowCol = Some("allow"),
      attrs = Seq("version")))

    // exact filtered top-10 under the ADC kernel
    val expected = serving.data.filter(col("version") === 2L)
      .select(col("vec_id"), ProductQuantizer.adcDirectExpr(
        col("pq_code"), typedLit(q0.toSeq), cb).as("s"))
      .groupBy("vec_id").agg(max("s").as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(adaptive(0L) == expected,
      s"ADC adaptive must return the exact filtered top-k:\n" +
        s"got=${adaptive(0L)}\nexact=$expected")
    assert(plain.getOrElse(0L, Set.empty) != expected,
      "setup: the probed ADC plan must actually miss planted rows")
    assert(adaptive(21L) == plain(21L),
      "the unrestricted query's probed ADC results must be unchanged")
  }

  test("searchBatchPerQuery with numeric restricts == per-query " +
      "searchBatch with the equivalent column comparisons") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_numr").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    // one tenant per comparison family: EQ, a range pair (GE ∧ LT),
    // NE, and an unrestricted NULL set — all in ONE batch, each
    // composed with the shared column restrict
    val numOf = Map(
      3L -> Seq(("label", "EQ", 4.0)),
      7L -> Seq(("label", "GE", 2.0), ("label", "LT", 7.0)),
      21L -> Seq(("label", "NE", 0.0)),
      42L -> Seq.empty[(String, String, Double)])
    val nums = numOf.toSeq.toDF("qid", "num")
      .withColumn("num", when(size(col("num")) > 0, expr(
        "transform(num, r -> " +
          "named_struct('attr', r._1, 'op', r._2, 'v', r._3))")))
    val queries = emb.filter(col("vec_id").isin(numOf.keys.toSeq: _*))
      .select(col("vec_id").as("qid"), col("v")).join(nums, "qid")
      .withColumn("allow",
        lit(null).cast("map<string,array<string>>"))
    val meta = emb.select("vec_id", "label")

    val got = serving.searchBatchPerQuery(queries, "qid", "v", "allow",
        Seq("label"), nProbe = 3, k = 5,
        restricts = Seq(col("vec_id") >= 10),
        metadata = Some((meta, "vec_id")),
        numCol = Some("num"), numAttrs = Seq("label"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq).toMap
    assert(got.keySet == numOf.keySet)

    def colForm(t: (String, String, Double)): org.apache.spark.sql.Column = {
      val (a, op, v) = t
      val c = col(a).cast("double")
      op match {
        case "EQ" => c === v; case "NE" => c =!= v
        case "LT" => c < v; case "LE" => c <= v
        case "GT" => c > v; case "GE" => c >= v
      }
    }
    for ((qid, set) <- numOf) {
      val one = queries.filter(col("qid") === qid).drop("allow", "num")
      val per = serving.searchBatch(one, "qid", "v", 3, 5,
          Seq(col("vec_id") >= 10) ++ set.map(colForm),
          None, Some((meta, "vec_id")))
        .collect().sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      assert(got(qid) == per,
        s"per-query numeric set and equivalent column restricts " +
          s"diverge for $qid:\nnum=${got(qid)}\ncol=$per")
      // the restriction actually constrains the rows it returns
      set.foreach { case (_, op, v) => got(qid).foreach { case (_, l, _) =>
        op match {
          case "EQ" => assert(l.toDouble == v)
          case "NE" => assert(l.toDouble != v)
          case "LT" => assert(l.toDouble < v)
          case "GE" => assert(l.toDouble >= v)
          case _ => ()
        }
      }}
    }
    // construction check: the four tenants are visibly different
    assert(got.values.map(_.map(_._1).toSet).toSet.size > 1)
  }

  test("numeric-restrict adaptive escape: a selective range set " +
      "escapes the probed plan and recovers rows from unprobed leaves") {
    import graft.operators.ServingManifest
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_numradapt").toString + "/idx"
    val indexed = emb.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, dir, model)
    ServingManifest.promote(spark, dir, Seq("version"))
    val planted = emb.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    IndexMaintenance.appendToServing(spark, dir, planted, "vec_id", "v",
      "version", spill = 1)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    val sel = Seq(("version", "GE", 2.0))
    assert(serving.perQueryAdaptivePlanNum(Map.empty, sel, 0.35),
      "the GE-2 set must be proven selective by file stats")
    assert(!serving.perQueryAdaptivePlanNum(Map.empty,
      Seq(("version", "EQ", 1.0)), 0.35),
      "the EQ-1 set (every build file) must stay on the probed plan")

    val tenants = Seq(
      (0L, Seq(("version", "GE", 2.0))),
      (21L, Seq.empty[(String, String, Double)])).toDF("qid", "num")
      .withColumn("num", when(size(col("num")) > 0, expr(
        "transform(num, r -> " +
          "named_struct('attr', r._1, 'op', r._2, 'v', r._3))")))
    val queries = emb.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(tenants, "qid")
      .withColumn("allow", lit(null).cast("map<string,array<string>>"))

    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val adaptive = ids(serving.searchBatchPerQueryAdaptive(queries,
      "qid", "v", "allow", Seq.empty, nProbe = 2, k = 10,
      maxExactFraction = 0.35, numCol = Some("num"),
      numAttrs = Seq("version")))
    val plain = ids(serving.searchBatchPerQuery(queries, "qid", "v",
      "allow", Seq.empty, nProbe = 2, k = 10, numCol = Some("num"),
      numAttrs = Seq("version")))

    // the restricted tenant: full recall — the true filtered top-10
    val exact = serving.data.filter(col("version").cast("double") >= 2.0)
      .select(col("vec_id"),
        graft.functions.vectors.dotProduct(col("v"), typedLit(
          emb.filter(col("vec_id") === 0L).select("v")
            .head().getSeq[Double](0))).as("score"))
      .groupBy("vec_id").agg(max("score").as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(adaptive(0L) == exact,
      s"adaptive must return the exact filtered top-k:\n" +
        s"got=${adaptive(0L)}\nexact=$exact")
    assert(plain.getOrElse(0L, Set.empty) != exact,
      "setup: the probed plan must actually miss planted rows — " +
        "otherwise this spec proves nothing")
    assert(adaptive(21L) == plain(21L),
      "the unrestricted query's probed results must be unchanged")
  }

  test("coded-tier numeric restricts == per-query coded batch with " +
      "the equivalent column comparisons (SQ and ADC)") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val pqIds = (0 until 16).map(c => c * 31L + 5L)
    val cb = ProductQuantizer.codebook(
      Tables.embeddings(spark, sf), "vec_id", "embedding", pqIds)
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    import graft.functions.quantize
    val sqDir = java.nio.file.Files
      .createTempDirectory("graft_shape_sqnum").toString + "/idx"
    IvfIndex.write(indexed
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v"), sqDir, model)
    val adcDir = java.nio.file.Files
      .createTempDirectory("graft_shape_adcnum").toString + "/idx"
    IvfIndex.write(indexed
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v"), adcDir, model)
    ProductQuantizer.writeCodebook(spark, adcDir, cb)

    val numOf = Map(
      3L -> Seq(("label", "EQ", 4.0)),
      7L -> Seq(("label", "GE", 2.0), ("label", "LT", 7.0)),
      21L -> Seq(("label", "NE", 0.0)))
    val nums = numOf.toSeq.toDF("qid", "num")
      .withColumn("num", expr("transform(num, r -> " +
        "named_struct('attr', r._1, 'op', r._2, 'v', r._3))"))
    val queries = emb.filter(col("vec_id").isin(numOf.keys.toSeq: _*))
      .select(col("vec_id").as("qid"), col("v")).join(nums, "qid")
    def colForm(t: (String, String, Double)): org.apache.spark.sql.Column = {
      val (a, op, v) = t
      val c = col(a).cast("double")
      op match {
        case "EQ" => c === v; case "NE" => c =!= v
        case "LT" => c < v; case "LE" => c <= v
        case "GT" => c > v; case "GE" => c >= v
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

    for ((dir, name) <- Seq((sqDir, "sq"), (adcDir, "pq"))) {
      val serving = Serving.open(spark, dir)
      assert(serving.tier == name)
      def batchNum(qs: org.apache.spark.sql.DataFrame) =
        if (name == "sq")
          serving.searchBatchSq(qs, "qid", "v", nProbe = 3, k = 5,
            numCol = Some("num"), numAttrs = Seq("label"))
        else
          serving.searchBatchAdc(qs, "qid", "v", nProbe = 3, k = 5,
            numCol = Some("num"), numAttrs = Seq("label"))
      val got = rows(batchNum(queries)).groupBy(_._1)
      for ((qid, set) <- numOf) {
        val one = queries.filter(col("qid") === qid).drop("num")
        val per = rows(if (name == "sq")
          serving.searchBatchSq(one, "qid", "v", nProbe = 3, k = 5,
            restricts = set.map(colForm))
        else
          serving.searchBatchAdc(one, "qid", "v", nProbe = 3, k = 5,
            restricts = set.map(colForm)))
        assert(got(qid).sortBy(_._4) == per.sortBy(_._4),
          s"$name tier: per-query numeric set and equivalent column " +
            s"restricts diverge for qid=$qid")
      }
      // the three tenants see visibly different corpora
      assert(got.values.map(_.map(_._2).toSet).toSet.size > 1)
    }
  }

  test("searchBatchAdcAdaptive with numeric restricts: a selective " +
      "range set escapes to exact ADC recall, probed side unchanged") {
    import graft.operators.ServingManifest
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val pqIds = (0 until 16).map(c => c * 31L + 5L)
    val cb = ProductQuantizer.codebook(
      Tables.embeddings(spark, sf), "vec_id", "embedding", pqIds)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_adcnumadapt").toString + "/idx"
    val coded = emb
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v")
    IvfIndex.write(coded, dir, model)
    ProductQuantizer.writeCodebook(spark, dir, cb)
    ServingManifest.promote(spark, dir, Seq("version"))
    val planted = emb.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2L))
    IndexMaintenance.appendCodedToServing(spark, dir, planted,
      "vec_id", "v", "version")
    val serving = Serving.open(spark, dir)
    assert(serving.tier == "pq")
    val sel = Seq(("version", "GE", 2.0))
    assert(serving.perQueryAdaptivePlanNum(Map.empty, sel, 0.45))
    assert(!serving.perQueryAdaptivePlanNum(Map.empty,
      Seq(("version", "EQ", 1.0)), 0.45))

    val q0 = emb.filter(col("vec_id") === 0L)
      .select("v").head().getSeq[Double](0).toArray
    val tenants = Seq(
      (0L, Seq(("version", "GE", 2.0))),
      (21L, Seq.empty[(String, String, Double)])).toDF("qid", "num")
      .withColumn("num", when(size(col("num")) > 0, expr(
        "transform(num, r -> " +
          "named_struct('attr', r._1, 'op', r._2, 'v', r._3))")))
      .withColumn("allow", lit(null).cast("map<string,array<string>>"))
    val queries = emb.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(tenants, "qid")

    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val adaptive = ids(serving.searchBatchAdcAdaptive(queries, "qid", "v",
      "allow", Seq.empty, nProbe = 2, k = 10, maxExactFraction = 0.45,
      numCol = Some("num"), numAttrs = Seq("version")))
    val plain = ids(serving.searchBatchAdc(queries, "qid", "v",
      nProbe = 2, k = 10, numCol = Some("num"),
      numAttrs = Seq("version")))

    val expected = serving.data.filter(col("version").cast("double") >= 2.0)
      .select(col("vec_id"), ProductQuantizer.adcDirectExpr(
        col("pq_code"), typedLit(q0.toSeq), cb).as("s"))
      .groupBy("vec_id").agg(max("s").as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(adaptive(0L) == expected,
      s"ADC numeric adaptive must return the exact filtered top-k:\n" +
        s"got=${adaptive(0L)}\nexact=$expected")
    assert(plain.getOrElse(0L, Set.empty) != expected,
      "setup: the probed ADC plan must actually miss planted rows")
    assert(adaptive(21L) == plain(21L),
      "the unrestricted query's probed ADC results must be unchanged")
  }

  test("numeric-only adaptive batches with NO provably-selective set " +
      "fall back to the probed plan on both coded tiers (regression: " +
      "the fallback crashed on the public entry's allowCol contract)") {
    import graft.operators.ServingManifest
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val pqIds = (0 until 16).map(c => c * 31L + 5L)
    val cb = ProductQuantizer.codebook(
      Tables.embeddings(spark, sf), "vec_id", "embedding", pqIds)
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    import graft.functions.quantize
    val sqDir = java.nio.file.Files
      .createTempDirectory("graft_shape_numfall_sq").toString + "/idx"
    IvfIndex.write(indexed
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v"), sqDir, model)
    val adcDir = java.nio.file.Files
      .createTempDirectory("graft_shape_numfall_adc").toString + "/idx"
    IvfIndex.write(indexed
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v"), adcDir, model)
    ProductQuantizer.writeCodebook(spark, adcDir, cb)
    ServingManifest.promote(spark, sqDir, Seq("version"))
    ServingManifest.promote(spark, adcDir, Seq("version"))

    // version EQ 1.0 matches EVERY file — provably unselective, so
    // collectAdaptiveSets returns nothing and the whole batch must ride
    // the probed plan (this used to throw IllegalArgumentException)
    val tenants = Seq((3L, Seq(("version", "EQ", 1.0))))
      .toDF("qid", "num")
      .withColumn("num", expr("transform(num, r -> " +
        "named_struct('attr', r._1, 'op', r._2, 'v', r._3))"))
      .withColumn("allow", lit(null).cast("map<string,array<string>>"))
    val queries = emb.filter(col("vec_id") === 3L)
      .select(col("vec_id").as("qid"), col("v")).join(tenants, "qid")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    for ((dir, name) <- Seq((sqDir, "sq"), (adcDir, "pq"))) {
      val serving = Serving.open(spark, dir)
      assert(!serving.perQueryAdaptivePlanNum(Map.empty,
        Seq(("version", "EQ", 1.0)), 0.45), s"setup ($name): the EQ-1 " +
        "set must be unselective or this spec proves nothing")
      val (adaptive, probed) = if (name == "sq") (
        rows(serving.searchBatchSqAdaptive(queries, "qid", "v", "allow",
          Seq.empty, nProbe = 3, k = 5, maxExactFraction = 0.45,
          numCol = Some("num"), numAttrs = Seq("version"))),
        rows(serving.searchBatchSq(queries, "qid", "v", nProbe = 3,
          k = 5, numCol = Some("num"), numAttrs = Seq("version"))))
      else (
        rows(serving.searchBatchAdcAdaptive(queries, "qid", "v", "allow",
          Seq.empty, nProbe = 3, k = 5, maxExactFraction = 0.45,
          numCol = Some("num"), numAttrs = Seq("version"))),
        rows(serving.searchBatchAdc(queries, "qid", "v", nProbe = 3,
          k = 5, numCol = Some("num"), numAttrs = Seq("version"))))
      assert(adaptive.nonEmpty, s"$name: fallback returned nothing")
      assert(adaptive.sortBy(_._4) == probed.sortBy(_._4),
        s"$name: the no-escape fallback must equal the probed batch")
    }
  }

  test("the numeric exact escape READS only the stats-surviving " +
      "files — the typed comparisons reach the manifest skip and the " +
      "parquet scan end to end") {
    import graft.operators.{ServingManifest, ManifestFileIndex}
    import graft.streaming.IndexMaintenance
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_numskip").toString + "/idx"
    val indexed = emb.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, dir, model)
    ServingManifest.promote(spark, dir, Seq("version"))
    val planted = emb.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("version", lit(2L))
    IndexMaintenance.appendToServing(spark, dir, planted, "vec_id", "v",
      "version", spill = 1)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    // the estimator's verdict for the same typed comparison the
    // numeric set pushes
    val est = ServingManifest.estimateRestrict(spark, dir,
      Seq(col("version") >= lit(2.0)))
      .getOrElse(fail("no manifest estimate"))
    assert(est.keptFiles > 0 && est.keptFiles < est.totalFiles,
      s"setup: the GE-2 predicate must skip some files " +
        s"(kept ${est.keptFiles} of ${est.totalFiles})")

    // ONE escaping tenant, nothing probed: every manifest-backed scan
    // in the executed plan together reads exactly the kept files
    val tenants = Seq((0L, Seq(("version", "GE", 2.0)))).toDF("qid", "num")
      .withColumn("num", expr("transform(num, r -> " +
        "named_struct('attr', r._1, 'op', r._2, 'v', r._3))"))
      .withColumn("allow", lit(null).cast("map<string,array<string>>"))
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("v")).join(tenants, "qid")
    val result = serving.searchBatchPerQueryAdaptive(queries, "qid", "v",
      "allow", Seq.empty, nProbe = 2, k = 10, maxExactFraction = 0.35,
      numCol = Some("num"), numAttrs = Seq("version"))
    result.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val manifestScans = scans(result.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[ManifestFileIndex])
    assert(manifestScans.nonEmpty, "no manifest-backed scan executed")
    val filesRead = manifestScans.map(_.metrics("numFiles").value).sum
    assert(filesRead == est.keptFiles,
      s"the escaped plan read $filesRead files; the stats say " +
        s"${est.keptFiles} of ${est.totalFiles} suffice")
  }

  test("a numeric restriction outside numAttrs or with an unknown op " +
      "fails loudly on both the probed and the adaptive path") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_numrbad").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    def queriesWith(set: Seq[(String, String, Double)]) =
      emb.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("qid"), col("v"))
        .join(Seq((3L, set)).toDF("qid", "num"), "qid")
        .withColumn("num", expr("transform(num, r -> " +
          "named_struct('attr', r._1, 'op', r._2, 'v', r._3))"))
        .withColumn("allow", lit(null).cast("map<string,array<string>>"))

    // "lable" is a typo for an attribute the caller forgot to
    // enumerate — without validation the restriction is a no-op and
    // the tenant's rows leak unfiltered
    val badAttr = intercept[Exception] {
      serving.searchBatchPerQuery(queriesWith(Seq(("lable", "EQ", 4.0))),
        "qid", "v", "allow", Seq.empty, nProbe = 3, k = 5,
        numCol = Some("num"), numAttrs = Seq("label")).collect()
    }
    assert(messages(badAttr).exists(
      _.contains("numeric restriction outside numAttrs")),
      s"expected the attr contract violation, got: $badAttr")
    // an unknown operator would silently reject everything
    val badOp = intercept[Exception] {
      serving.searchBatchPerQuery(queriesWith(Seq(("label", "EQQ", 4.0))),
        "qid", "v", "allow", Seq.empty, nProbe = 3, k = 5,
        numCol = Some("num"), numAttrs = Seq("label")).collect()
    }
    assert(messages(badOp).exists(
      _.contains("numeric restriction outside numAttrs")),
      s"expected the op contract violation, got: $badOp")
    // the ADAPTIVE path validates on the DRIVER (collectAdaptiveSets)
    // before any plan runs
    val badAdaptive = intercept[Exception] {
      serving.searchBatchPerQueryAdaptive(
        queriesWith(Seq(("lable", "EQ", 4.0))), "qid", "v", "allow",
        Seq.empty, nProbe = 3, k = 5, numCol = Some("num"),
        numAttrs = Seq("label")).collect()
    }
    assert(messages(badAdaptive).exists(
      _.contains("numeric restriction outside")),
      s"expected the adaptive contract violation, got: $badAdaptive")
    // a well-formed set still passes through validation unchanged
    val good = serving.searchBatchPerQuery(
      queriesWith(Seq(("label", "EQ", 4.0))), "qid", "v", "allow",
      Seq.empty, nProbe = 3, k = 5, numCol = Some("num"),
      numAttrs = Seq("label")).collect()
    assert(good.nonEmpty)
    good.foreach(r => assert(
      emb.filter(col("vec_id") === r.getLong(1)).head().getInt(2) == 4))
  }

  test("an allow-map key outside attrs fails loudly instead of " +
      "silently returning unfiltered rows") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shape_badkey").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    // "lable" is a typo for an attribute the caller forgot to
    // enumerate — without validation that tenant's restriction is a
    // no-op and the query leaks unfiltered rows
    val allows = Seq(
      (3L, Some(Map("lable" -> Seq("0", "1")))),
      (7L, Some(Map("label" -> Seq("2"))))).toDF("qid", "allow")
    val queries = emb.filter(col("vec_id").isin(3L, 7L))
      .select(col("vec_id").as("qid"), col("v")).join(allows, "qid")
    val err = intercept[Exception] {
      serving.searchBatchPerQuery(queries, "qid", "v", "allow",
        Seq("label"), nProbe = 3, k = 5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("allow-map key outside attrs")),
      s"expected the contract violation, got: $err")
    // well-formed maps still pass through the validation unchanged
    val ok = Seq((3L, Some(Map("label" -> Seq("0", "1"))))).toDF("qid", "allow")
    val good = serving.searchBatchPerQuery(
      emb.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("qid"), col("v")).join(ok, "qid"),
      "qid", "v", "allow", Seq("label"), nProbe = 3, k = 5).collect()
    assert(good.nonEmpty)
  }
}
