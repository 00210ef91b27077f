package graft

import org.apache.spark.sql.functions._
import graft.functions.{bquant, vectors, PackSign}

/** Binary-quantization kernel identities — the bit-level contracts
  * the `v_bq_*` value oracles can't isolate: the packed buffer is the
  * sign pattern, the asymmetric dot equals the float dot against the
  * ±1 sign vector, hamming is a metric consistent with the sign
  * inner product, and the driver-side pack mirrors the expression.
  */
class BqSpec extends SparkTestBase {
  import spark.implicits._

  test("signDot == dot against the ±1 sign vector, on every corpus row") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") === 3L)
      .select("v").head().getSeq[Double](0)
    val mismatches = emb.select(
        bquant.signDot(bquant.packSigns(col("v")), typedLit(q)).as("a"),
        vectors.dotProduct(
          transform(col("v"), x => when(x > 0d, 1d).otherwise(-1d)),
          typedLit(q)).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0L,
      "asymmetric sign-dot must be bit-identical to the ±1 dot")
  }

  test("hamming: identity, symmetry, and the sign-inner-product relation") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(100)
    val q = emb.filter(col("vec_id") === 3L)
      .select("v").head().getSeq[Double](0).toArray
    val qBits = PackSign.packLocal(q)
    // h(x, x) = 0
    assert(emb.select(max(bquant.hamming(bquant.packSigns(col("v")),
        bquant.packSigns(col("v"))))).head().getInt(0) == 0)
    // h(x, q) = (d − ⟨sign(x), sign(q)⟩) / 2, exactly, on every row
    val qs = q.toSeq.map(x => if (x > 0) 1d else -1d)
    val bad = emb.select(
        bquant.hamming(bquant.packSigns(col("v")), lit(qBits)).as("h"),
        ((lit(64) - vectors.dotProduct(
          transform(col("v"), x => when(x > 0d, 1d).otherwise(-1d)),
          typedLit(qs)).cast("int")) / 2).cast("int").as("rel"))
      .filter(col("h") =!= col("rel")).count()
    assert(bad == 0L, "hamming must satisfy h = (d - <sa,sq>)/2")
  }

  test("driver-side packLocal mirrors the PackSign expression") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(20)
    emb.select(col("v"), bquant.packSigns(col("v")).as("bits"))
      .collect().foreach { r =>
        val v = r.getSeq[Double](0).toArray
        val expr = r.getAs[Array[Byte]](1)
        assert(java.util.Arrays.equals(expr, PackSign.packLocal(v)),
          s"pack mismatch for ${v.take(4).mkString(",")}…")
      }
  }

  // -------- the SERVED tier (r_serve_bq is the oracle-gated twin) ----

  private def buildBqLayout(): (graft.operators.Serving, String) = {
    import graft.operators.{IvfIndex, Serving, ServingManifest}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val (indexed0, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val indexed = indexed0.withColumn("bq_code", bquant.packSigns(col("v")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bq_serve").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    ServingManifest.promote(spark, dir, Seq("version"))
    (Serving.open(spark, dir, id = "vec_id", vecCol = "v"), dir)
  }

  test("appendToServing derives FRESH sign codes from the appended " +
      "vectors (a stale caller-supplied column cannot poison the tier)") {
    import graft.streaming.IndexMaintenance
    val (serving, dir) = buildBqLayout()
    assert(serving.hasBq && serving.tier == "raw")
    // re-embed a handful of ids with NEGATED vectors: every sign flips
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    val reembeds = emb.filter(col("vec_id") % 50 === 3)
      .withColumn("v", transform(col("v"), x => -x))
    IndexMaintenance.appendToServing(spark, dir, reembeds,
      "vec_id", "v", "version", spill = 1)
    val live = graft.operators.Serving.open(spark, dir,
      id = "vec_id", vecCol = "v")
    val rows = live.data.filter(col("vec_id") % 50 === 3)
      .select(col("vec_id"), col("v"), col("bq_code")).distinct().collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val bits = r.getAs[Array[Byte]](2)
      assert(java.util.Arrays.equals(bits, PackSign.packLocal(v)),
        s"stale sign codes served for vec_id=${r.getLong(0)}")
    }
  }

  test("searchBqRerank with an admit-everything shortlist == the raw " +
      "probed search; a tight shortlist still ranks survivors exactly") {
    val (serving, _) = buildBqLayout()
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // m ≥ candidate count → stage 1 admits everything → identical to
    // the raw probed top-k (same tie-breaks)
    val viaBq = rows(serving.searchBqRerank(q, nProbe = 3,
      m = 100000, k = 10))
    val viaRaw = serving.search(q, nProbe = 3, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(viaBq == viaRaw,
      s"admit-all shortlist must reduce to the raw search:\n$viaBq\n$viaRaw")
    // tight m: the final ranking over the survivors is the exact dot
    val tight = serving.searchBqRerank(q, nProbe = 3, m = 12, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(tight.length == 10)
    assert(tight.map(_._2).toSeq == tight.map(_._2).sorted.reverse.toSeq,
      "survivor scores must come out in exact descending order")
  }

  test("bq_code survives the maintenance lifecycle: append → delete " +
      "→ compact keeps the tier serving exact with fresh codes") {
    import graft.streaming.IndexMaintenance
    val (serving0, dir) = buildBqLayout()
    assert(serving0.hasBq)
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    // re-embed some ids (negated — signs flip), delete a few others
    val reembeds = emb.filter(col("vec_id") % 40 === 9)
      .withColumn("v", transform(col("v"), x => -x))
    IndexMaintenance.appendToServing(spark, dir, reembeds,
      "vec_id", "v", "version", spill = 1)
    val deadIds = Seq(3L, 17L, 91L)
    IndexMaintenance.removeFromServing(spark, dir,
      emb.filter(col("vec_id").isin(deadIds: _*))
        .select(col("vec_id"), lit(3L).as("version")),
      "vec_id", "version")
    // compaction materializes the LWW view into a fresh layout — the
    // companion column must ride through or the tier dies here
    IndexMaintenance.compactServing(spark, dir, "vec_id", "version")
    val live = graft.operators.Serving.open(spark, dir,
      id = "vec_id", vecCol = "v")
    assert(live.hasBq, "compaction dropped the bq_code column")
    // deleted ids are gone physically, survivors' codes match their
    // (possibly re-embedded) vectors exactly
    assert(live.data.filter(col("vec_id").isin(deadIds: _*)).count() == 0)
    live.data.filter(col("vec_id") % 40 === 9)
      .select(col("v"), col("bq_code")).distinct().collect().foreach { r =>
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1),
          PackSign.packLocal(r.getSeq[Double](0).toArray)),
          "stale sign codes after compaction")
      }
    // and the served two-stage search still reduces to the raw probed
    // search at admit-all m — over the COMPACTED layout
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 5L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val viaBq = live.searchBqRerank(q, nProbe = 3, m = 100000, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val viaRaw = live.search(q, nProbe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(viaBq == viaRaw)
  }

  test("searchBatchBqRerank == per-query searchBqRerank for every " +
      "tenant of one routed batch") {
    val (serving, _) = buildBqLayout()
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val qids = Seq(3L, 21L, 42L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("v"))
    val batch = serving.searchBatchBqRerank(queries, "qid", "v",
        nProbe = 3, m = 25, k = 8)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    assert(batch.keySet == qids.toSet)
    for (q <- qids) {
      val qv = emb.filter(col("vec_id") === q)
        .select("v").head().getSeq[Double](0).toArray
      val single = serving.searchBqRerank(qv, nProbe = 3, m = 25, k = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(batch(q) == single,
        s"batch and single BQ rerank diverge for qid=$q:\n" +
          s"batch=${batch(q)}\nsingle=$single")
    }
  }

  test("searchBatchBqRerank per-query allow + numeric restricts == " +
      "per-query searchBqRerank under the equivalent column restricts") {
    import graft.operators.{IvfIndex, Serving}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val (indexed0, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val indexed = indexed0.withColumn("bq_code", bquant.packSigns(col("v")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bq_tenant").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    // tenant 3: allow-map on label; tenant 7: numeric range; tenant
    // 21: unrestricted — one batch, each tenant's shortlist filtered
    // before the window
    val tenants = Seq(
      (3L, Some(Map("label" -> Seq("1", "4", "7"))),
        Seq.empty[(String, String, Double)]),
      (7L, None: Option[Map[String, Seq[String]]],
        Seq(("label", "GE", 3.0), ("label", "LT", 8.0))),
      (21L, None: Option[Map[String, Seq[String]]],
        Seq.empty[(String, String, Double)]))
      .toDF("qid", "allow", "num")
      .withColumn("num", when(size(col("num")) > 0, expr(
        "transform(num, r -> " +
          "named_struct('attr', r._1, 'op', r._2, 'v', r._3))")))
    val queries = emb.filter(col("vec_id").isin(3L, 7L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(tenants, "qid")
    val batch = serving.searchBatchBqRerank(queries, "qid", "v",
        nProbe = 3, m = 25, k = 8, allowCol = Some("allow"),
        attrs = Seq("label"), numCol = Some("num"),
        numAttrs = Seq("label"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap

    val colRestricts = Map(
      3L -> Seq(col("label").cast("string").isin("1", "4", "7")),
      7L -> Seq(col("label").cast("double") >= 3.0,
        col("label").cast("double") < 8.0),
      21L -> Seq.empty[org.apache.spark.sql.Column])
    for ((q, rs) <- colRestricts) {
      val qv = emb.filter(col("vec_id") === q)
        .select("v").head().getSeq[Double](0).toArray
      val single = serving.searchBqRerank(qv, nProbe = 3, m = 25, k = 8,
          restricts = rs)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(batch(q) == single,
        s"per-tenant BQ batch diverges from the column-restricted " +
          s"single for qid=$q:\nbatch=${batch(q)}\nsingle=$single")
    }
    // the tenants genuinely see different corpora
    assert(batch.values.map(_.map(_._1).toSet).toSet.size == 3)
  }

  test("searchBatchBqRerank plan shape: ONE layout scan scores both " +
      "the shortlist and the rescore — no join against it but the " +
      "probe frame's") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BaseJoinExec}
    val (serving, _) = buildBqLayout()
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val queries = emb.filter(col("vec_id").isin(3L, 21L))
      .select(col("vec_id").as("qid"), col("v"))
    val df = serving.searchBatchBqRerank(queries, "qid", "v",
        nProbe = 3, m = 25, k = 8)
    assert(df.collect().length == 16)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = df.queryExecution.executedPlan
    val all = nodes(plan)
    val scans = all.collect { case f: FileSourceScanExec => f }
    assert(scans.length == 1, s"want ONE layout scan:\n$plan")
    // the one join pairs the scan with the routed probe frame on leaf_id
    val joins = all.collect { case j: BaseJoinExec => j }
    assert(joins.length == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec],
      s"want only the probe-frame broadcast join:\n$plan")
    assert(joins.head.leftKeys.flatMap(_.references.map(_.name)) == Seq("leaf_id"),
      s"the one join must be the probe frame's, on leaf_id:\n$plan")
  }

  test("searchBqRerank guards: wrong tier and missing companion " +
      "column fail loudly") {
    import graft.operators.{IvfIndex, Serving}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bq_guard").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val noBq = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    assert(!noBq.hasBq)
    val q = Array.fill(64)(0.1)
    val e = intercept[IllegalArgumentException] {
      noBq.searchBqRerank(q, nProbe = 2, m = 20, k = 10)
    }
    assert(e.getMessage.contains("no bq_code companion"))
    val e2 = intercept[IllegalArgumentException] {
      noBq.searchBqRerank(q, nProbe = 2, m = 5, k = 10)
    }
    assert(e2.getMessage.contains("must be"))
  }

  test("searchMaxSimBq with an admit-all shortlist == the raw " +
      "searchMaxSim exactly; a tight shortlist keeps exact ordering; " +
      "guards fail loudly (v_maxsim_bq is the oracle-gated twin)") {
    import graft.operators.{IvfIndex, Serving}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed0, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val indexed = indexed0.withColumn("bq_code", bquant.packSigns(col("v")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bq_maxsim").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.get(1).toString)).toSeq
    // m ≥ doc count → stage 1 admits every doc → the exact-rescore
    // stage IS the raw MaxSim (same exact-decimal sums, same ties)
    val admitAll = rows(serving.searchMaxSimBq(qvecs, nProbe = 3,
      m = 100000, k = 5, docCol = "label"))
    val raw = rows(serving.searchMaxSim(qvecs, nProbe = 3, k = 5,
      docCol = "label"))
    assert(admitAll == raw,
      s"admit-all BQ MaxSim must reduce to raw MaxSim:\n$admitAll\n$raw")
    // tight m: k of the m survivors, scores exact and descending
    val tight = serving.searchMaxSimBq(qvecs, nProbe = 3, m = 4, k = 3,
      docCol = "label").collect()
    assert(tight.length == 3)
    val scores = tight.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse,
      "survivor scores must come out in exact descending order")
    // guards: missing companion column, and m < k
    val bareDir = java.nio.file.Files
      .createTempDirectory("graft_bq_maxsim_bare").toString + "/idx"
    IvfIndex.write(indexed0, bareDir, model)
    val bare = Serving.open(spark, bareDir, id = "vec_id", vecCol = "v")
    val e = intercept[IllegalArgumentException] {
      bare.searchMaxSimBq(qvecs, nProbe = 2, m = 20, k = 10,
        docCol = "label")
    }
    assert(e.getMessage.contains("no bq_code companion"))
    val e2 = intercept[IllegalArgumentException] {
      serving.searchMaxSimBq(qvecs, nProbe = 2, m = 2, k = 10,
        docCol = "label")
    }
    assert(e2.getMessage.contains("must be"))
  }

  test("verifyBqCodes: zero on a maintained layout, counts a " +
      "side-channel-poisoned row, refuses a bare layout") {
    import graft.streaming.IndexMaintenance
    val (serving, dir) = buildBqLayout()
    assert(serving.verifyBqCodes() == 0L, "maintained layout is clean")
    // appends stay clean (codes derived from the vectors themselves)
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    IndexMaintenance.appendToServing(spark, dir,
      emb.filter(col("vec_id") % 60 === 1)
        .withColumn("v", transform(col("v"), x => -x)),
      "vec_id", "v", "version", spill = 1)
    val live = graft.operators.Serving.open(spark, dir,
      id = "vec_id", vecCol = "v")
    assert(live.verifyBqCodes() == 0L, "append path derives fresh codes")
    // a side-channel writer flips one row's vector without its code:
    // the drift probe must count it
    val poisonDir = live.data.filter(col("leaf_id") === 0)
      .limit(0) // no-op frame just to resolve the layout's schema
    val one = spark.read.parquet(dir).limit(1)
      .withColumn("v", transform(col("v"), x => -x))
    one.write.mode("append").parquet(dir + "/leaf_id=999")
    // reopen WITHOUT the manifest view (raw read — the poisoned file
    // sits outside the manifest, like any side-channel write)
    val poisoned = spark.read.parquet(dir)
    import graft.functions.bquant
    val drifted = poisoned.filter(col("bq_code") =!=
      bquant.packSigns(col("v").cast("array<double>"))).count()
    assert(drifted >= 1L, s"poisoned row must register, got $drifted")
    assert(poisonDir.count() == 0)
    val bare = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      bare.withColumn("version", lit(1L)), "vec_id", "v", 8)
    val bareDir = java.nio.file.Files
      .createTempDirectory("graft_bq_verify_bare").toString + "/idx"
    graft.operators.IvfIndex.write(indexed, bareDir, model)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Serving.open(spark, bareDir,
        id = "vec_id", vecCol = "v").verifyBqCodes()
    }
    assert(e.getMessage.contains("no bq_code companion"))
  }

  test("verifyBqCodesSince: the incremental drift probe reads ONLY " +
      "files appended after the baseline version — flags planted " +
      "poison in the appendage, honestly skips poison already " +
      "baselined (the full scan still sees it), and refuses a " +
      "version the log no longer holds") {
    import graft.streaming.IndexMaintenance
    import graft.operators.ServingManifest
    val (_, dir) = buildBqLayout()
    val v0 = ServingManifest.versions(spark, dir).max
    // a clean append adds files past v0: scanned, zero drift
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    IndexMaintenance.appendToServing(spark, dir,
      emb.filter(col("vec_id") % 60 === 1), "vec_id", "v", "version",
      spill = 1)
    val live = graft.operators.Serving.open(spark, dir,
      id = "vec_id", vecCol = "v")
    assert(live.verifyBqCodesSince(v0) == 0L,
      "clean append must probe clean")
    val v1 = ServingManifest.versions(spark, dir).max
    assert(v1 > v0, "the append must have logged a new version")
    // side-channel poison INTO the manifest: one row with a flipped
    // vector but its stale code, installed by a reconcile (the
    // manifest-registered flavor of the side-channel writer)
    spark.read.parquet(dir).limit(1).drop("leaf_id")
      .withColumn("vec_id", lit(999999L))
      .withColumn("v", transform(col("v"), x => -x))
      .write.mode("append").parquet(dir + "/leaf_id=3")
    ServingManifest.reconcile(spark, dir, Seq(3))
    // incremental from v1 reads only the post-v1 files — and flags it
    assert(live.verifyBqCodesSince(v1) >= 1L,
      "poison appended after the baseline must register")
    // the coverage bound, stated honestly: baselining PAST the poison
    // skips it — the full scan is the re-baselining sweep that won't
    val v2 = ServingManifest.versions(spark, dir).max
    assert(live.verifyBqCodesSince(v2) == 0L)
    assert(graft.operators.Serving.open(spark, dir,
      id = "vec_id", vecCol = "v").verifyBqCodes() >= 1L)
    // a version the log does not hold (e.g. a rewrite reset it) must
    // fail toward the full scan, never silently under-scan
    val e = intercept[RuntimeException] {
      live.verifyBqCodesSince(v2 + 100)
    }
    assert(e.getMessage.contains("re-baseline"))
    // the autopilot form: bounded probe flags the same poison, a
    // later baseline reports clean, a vanished version falls back to
    // the full scan (which sees the planted row)
    import graft.streaming.IndexMaintenance.MaintenancePolicy
    val r1 = IndexMaintenance.maintain(spark, dir, "vec_id", "v",
      "version", MaintenancePolicy(maxLeafSize = 1000000,
        checkBqCodes = true, bqCheckSinceVersion = Some(v1)))
    assert(r1.bqDriftRows >= 1L, s"bounded sweep must flag: $r1")
    val r2 = IndexMaintenance.maintain(spark, dir, "vec_id", "v",
      "version", MaintenancePolicy(maxLeafSize = 1000000,
        checkBqCodes = true, bqCheckSinceVersion = Some(v2)))
    assert(r2.bqDriftRows == 0L, s"post-baseline sweep is clean: $r2")
    val r3 = IndexMaintenance.maintain(spark, dir, "vec_id", "v",
      "version", MaintenancePolicy(maxLeafSize = 1000000,
        checkBqCodes = true, bqCheckSinceVersion = Some(v2 + 100)))
    assert(r3.bqDriftRows >= 1L,
      s"missing baseline must fall back to the full scan: $r3")
    // sweeps CHAIN: each report carries the version it covered
    // through, the next sweep baselines there — clean append after
    // r2's baseline, sweep at r2's reported version scans only it
    assert(r2.bqCheckedThroughVersion == v2,
      s"report must carry the probed-through version: $r2")
    IndexMaintenance.appendToServing(spark, dir,
      emb.filter(col("vec_id") % 60 === 7)
        .withColumn("version", lit(3L)), "vec_id", "v", "version",
      spill = 1)
    val r4 = IndexMaintenance.maintain(spark, dir, "vec_id", "v",
      "version", MaintenancePolicy(maxLeafSize = 1000000,
        checkBqCodes = true,
        bqCheckSinceVersion = Some(r2.bqCheckedThroughVersion)))
    assert(r4.bqDriftRows == 0L,
      s"chained sweep over the clean appendage must be clean: $r4")
    assert(r4.bqCheckedThroughVersion > r2.bqCheckedThroughVersion)
  }

  test("verifyBqCodesSince: an IN-PLACE rewrite of a pre-baseline " +
      "file (same relative path, new bytes) registers as fresh — " +
      "the probe diffs (bytes, mtime) signatures, not names") {
    import graft.operators.ServingManifest
    val (live, dir) = buildBqLayout()
    val v0 = ServingManifest.versions(spark, dir).max
    assert(live.verifyBqCodesSince(v0) == 0L, "baseline must be clean")
    // the side-channel writer this probe documents itself as
    // catching: flip an existing file's vectors, keep its stale
    // codes, and put the poisoned bytes back UNDER THE SAME NAME,
    // then reconcile (the manifest-registered flavor)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val leaf = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("leaf_id="))
      .map(_.getPath).head
    val leafId = leaf.getName.stripPrefix("leaf_id=").toInt
    val victim = fs.listStatus(leaf)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).head
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_bq_inplace").toString
    spark.read.parquet(victim.toString)
      .withColumn("v", transform(col("v"), x => -x))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val part = tmpP.getFileSystem(conf).listStatus(tmpP)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).head
    assert(fs.delete(victim, false))
    assert(org.apache.hadoop.fs.FileUtil.copy(
      part.getFileSystem(conf), part, fs, victim, false, conf))
    ServingManifest.reconcile(spark, dir, Seq(leafId))
    assert(live.verifyBqCodesSince(v0) >= 1L,
      "an in-place rewrite under an unchanged name must be " +
        "re-scanned and flagged — a name-only diff would skip it")
  }

  test("signTiePlateau: reports the largest sign-tie group; m above " +
      "the plateau makes the shortlist exact-set (the SCALE.md " +
      "sizing rule as an API)") {
    val (serving, _) = buildBqLayout()
    val plateau = serving.signTiePlateau()
    assert(plateau >= 1L)
    // cross-check against the raw group sizes
    val expected = serving.data
      .groupBy(col("bq_code")).count()
      .agg(max("count")).head().getLong(0)
    assert(plateau == expected)
    // a bare layout refuses loudly
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      emb.withColumn("version", lit(1L)), "vec_id", "v", 8)
    val bareDir = java.nio.file.Files
      .createTempDirectory("graft_bq_plateau_bare").toString + "/idx"
    graft.operators.IvfIndex.write(indexed, bareDir, model)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Serving.open(spark, bareDir,
        id = "vec_id", vecCol = "v").signTiePlateau()
    }
    assert(e.getMessage.contains("no bq_code companion"))
  }

  test("maintain(checkBqCodes): the autopilot reports a clean drift " +
      "count on a maintained BQ layout and -1 when there is nothing " +
      "to check") {
    import graft.streaming.IndexMaintenance
    import graft.streaming.IndexMaintenance.MaintenancePolicy
    val (_, dir) = buildBqLayout()
    val r = IndexMaintenance.maintain(spark, dir, "vec_id", "v",
      "version", MaintenancePolicy(maxLeafSize = 1000000,
        checkBqCodes = true))
    assert(r.bqDriftRows == 0L,
      s"maintained BQ layout must report zero drift, got $r")
    // policy off → not checked, distinguishable from clean
    val off = IndexMaintenance.maintain(spark, dir, "vec_id", "v",
      "version", MaintenancePolicy(maxLeafSize = 1000000))
    assert(off.bqDriftRows == -1L)
    // no companion column → not checked even with the bit on
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      emb, "vec_id", "v", 8)
    val bareDir = java.nio.file.Files
      .createTempDirectory("graft_bq_maintain_bare").toString + "/idx"
    graft.operators.IvfIndex.write(indexed, bareDir, model)
    val bare = IndexMaintenance.maintain(spark, bareDir, "vec_id", "v",
      "version", MaintenancePolicy(maxLeafSize = 1000000,
        checkBqCodes = true))
    assert(bare.bqDriftRows == -1L)
  }
}
