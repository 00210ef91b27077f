package graft

import graft.operators.IvfIndex
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The Scala serving API must express everything the SQL E2E gate
  * proves in text — same restricts, same crowding, same heap ranking,
  * same metadata join, row-for-row — and restrict predicates must
  * reach the parquet scan as pushed filters, not post-scan residuals
  * (the reference's filtered-ANN semantics,
  * setup_vector_search.py:45-62, at row-group granularity).
  */
class ServingApiSpec extends SparkTestBase {

  test("searchDf with restricts/crowding/metadata == v_ann_sql_e2e, " +
      "row for row") {
    val emb = Tables.embeddings(spark, sf)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val model = IvfIndex.Model(cents.toArray)
    // the same model-geometry assignment the E2E gate's written
    // layout uses
    val indexed = emb.withColumn("leaf_id",
      IvfIndex.leafExprMinL2(col("embedding"), cents).cast("bigint"))

    val api = IvfIndex.searchDf(indexed, model, query, nProbe = 2, k = 8,
      id = "vec_id", vecCol = "embedding",
      restricts = Seq(col("vec_id") =!= 7, col("vec_id") >= 10),
      crowding = Some(("label", 2)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")))
      .collect().toSeq

    val e2e = SparkEntry.queries("v_ann_sql_e2e")(spark, sf)
      .collect().toSeq
    assert(api == e2e,
      s"API and SQL E2E diverge:\napi=$api\ne2e=$e2e")
  }

  test("restrict predicates land in the probed scan's PushedFilters") {
    // the E2E gate reads the WRITTEN partitionBy(leaf_id) layout with
    // restricts on a top-level column; those predicates must reach
    // the parquet scan (row-group skipping), not survive only as a
    // post-scan Filter
    val df = SparkEntry.queries("v_ann_sql_e2e")(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    val idxScan = scans.find(
      _.partitionFilters.exists(_.toString.contains("leaf_id")))
      .getOrElse(fail("no partition-pruned index scan in the E2E plan"))
    val pushed = idxScan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(vec_id,10)"),
      s"restrict vec_id >= 10 not pushed: $pushed")
    assert(pushed.contains("Not(EqualTo(vec_id,7))"),
      s"restrict vec_id <> 7 not pushed: $pushed")
  }

  test("searchDf restricts reach PushedFilters over a written layout") {
    // same assertion for the API path: filters composed by searchDf
    // sit directly on the scan
    val emb = Tables.embeddings(spark, sf)
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvapi").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val q = (0 until 64).map(i => (i % 7).toDouble).toArray
    val df = IvfIndex.searchDf(spark.read.parquet(dir), model, q,
      nProbe = 3, k = 5, id = "vec_id", vecCol = "embedding",
      restricts = Seq(col("label") === 3), crowding = None,
      metadata = None)
    val scan = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }.headOption.getOrElse(fail("no file scan in the API plan"))
    assert(scan.metadata.getOrElse("PushedFilters", "")
      .contains("EqualTo(label,3)"),
      s"restrict not pushed: ${scan.metadata.get("PushedFilters")}")
    assert(scan.partitionFilters.exists(_.toString.contains("leaf_id")),
      "probe In-list must stay a partition filter alongside restricts")
  }

  test("Serving handle: open-once session is LWW-live, openAt pins a version") {
    import graft.operators.Serving
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvhandle").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    // one upsert: overwrite some build-time ids (version 2) and add
    // brand-new ids
    val b1 = emb.filter(col("vec_id") % 29 === 1)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2L))
      .unionByName(emb.filter(col("vec_id") % 31 === 4)
        .withColumn("vec_id", col("vec_id") + 500000))
    IndexMaintenance.appendToServing(spark, dir, b1, "vec_id", "v", "version")

    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    assert(live.numLeaves == 8)
    // LWW at open: an overwritten id serves ONLY its version-2 row
    val overwritten = live.data.filter(col("vec_id") % 29 === 1 &&
      col("vec_id") < 500000)
    assert(overwritten.filter(col("version") =!= 2).count() == 0,
      "a superseded copy must never be served by the handle")
    // repeated searches on the held frame match the one-shot path
    val q = emb.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray
    val viaHandle = live.search(q, 3, 10).collect().toSeq
    val oneShot = IvfIndex.searchDf(
      IndexMaintenance.readServing(spark, dir, "vec_id", "version"),
      model, q, 3, 10, "vec_id", "v").collect().toSeq
    assert(viaHandle == oneShot,
      "handle search must equal the one-shot serving read")

    // time travel: the v1 session sees no appended rows at all
    val pinned = Serving.openAt(spark, dir, 1, id = "vec_id",
      vecCol = "v").get
    assert(pinned.data.filter(col("version") === 2).count() == 0,
      "openAt(1) must not see the upsert's overwrites")
    assert(pinned.data.filter(col("vec_id") >= 500000).count() == 0,
      "openAt(1) must not see the upsert's new ids")
    assert(pinned.search(q, 3, 10).count() == 10)
    assert(Serving.openAt(spark, dir, 42).isEmpty,
      "an unlogged version pins nothing")
  }

  test("searchMmr through the handle == the gate composition " +
      "(probe → coarse pool → Knn.mmrRerank), and λ=1 degrades to " +
      "pure relevance order") {
    import graft.operators.{Knn, Serving}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvmmr").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    val q = emb.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray

    val viaHandle = live.searchMmr(q, nProbe = 2, kPool = 20, k = 5,
        lam = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // the v_ann_mmr gate composition, assembled by hand over the same
    // held frame and model — what a user had to write before the
    // handle surface existed
    val probes = live.model.topLeaves(q, 2)
    val probed = live.data.filter(col("leaf_id").isin(probes: _*))
      .select(col("vec_id"), col("v"),
        graft.functions.vectors.dotProduct(col("v"),
          typedLit(q.toSeq)).as("score"))
      // spill copies collapse to one candidate per id, the searchDf
      // convention the handle follows
      .groupBy(col("vec_id"))
      .agg(first(col("score")).as("score"), first(col("v")).as("v"))
    val cand = Knn.topK(probed, 20, "vec_id", Knn.Dot)
      .select(lit(0L).as("query_id"), col("vec_id"),
        col("v").cast("array<double>").as("v"), col("score").as("sq"))
    val manual = Knn.mmrRerank(cand, 5, 0.5)
      .select(col("step"), col("vec_id"), col("sq"))
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaHandle == manual,
      s"handle and gate composition diverge:\n$viaHandle\n$manual")

    // λ=1: the diversity term vanishes — picks are exactly the
    // relevance top-k in (score desc, id) order
    val pure = live.searchMmr(q, 2, 20, 5, 1.0).collect()
      .map(_.getLong(1)).toSeq
    val topk = live.search(q, 2, 5).collect().map(_.getLong(0)).toSeq
    assert(pure == topk, s"λ=1 must be pure relevance: $pure vs $topk")

    // contract checks: non-raw input is refused loudly elsewhere
    // (tier-guarded); a kPool smaller than k just truncates
    assert(live.searchMmr(q, 2, 3, 5, 0.5).count() == 3,
      "k past the pool size truncates to the pool")
  }

  test("lexical sidecar: bucket-pruned postings serve BM25 scores " +
      "hash-identical to tokenize-on-the-fly, the postings scan reads " +
      "only the query terms' buckets, and searchHybrid's two output " +
      "shapes fuse/diversify the same pool") {
    import graft.operators.{Lexical, Serving}
    import graft.pipeline.SparseEmbed
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val terms = Seq("spark", "join", "stream")
    // a layout whose vectors are the docs' hashed-sparse embeddings
    val dv = SparseEmbed.embed(docs, "doc_id", "text")
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("idx"), col("w"))))
        .as("m"))
    val dense = docs.select("doc_id").join(dv, Seq("doc_id"), "left")
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(SparseEmbed.Dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("bigint")), lit(0L)))
          .cast("array<double>").as("v"))
    val (indexed, model) = graft.operators.IvfIndex.build(dense, "doc_id", "v", 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvlex").toString + "/idx"
    graft.operators.IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "doc_id", vecCol = "v")
    assert(!live.hasLexical)
    live.attachLexical(docs, "doc_id", "text")
    assert(live.hasLexical)

    // sidecar scores == the gate's tokenize-on-the-fly arithmetic
    val viaSidecar = live.lexicalScores(terms).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaTokenize = graft.queries.ChunkingQueries.bm25Scores(docs, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaSidecar == viaTokenize,
      "sidecar BM25 must be bit-identical to the tokenize path")

    // the postings scan is bucket-pruned: partition filters carry the
    // bucket In-list, so non-query-term buckets never read
    val scan = Lexical.bm25FromStats(spark, dir, terms)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f
      }.find(_.partitionFilters.exists(_.toString.contains("bucket")))
      .getOrElse(fail("postings scan must partition-filter on bucket"))
    assert(scan.partitionFilters.nonEmpty)

    // hybrid shapes: None = fused ranking of the pool; Some(λ) = MMR
    // picks over the same pool with dense-dot relevance
    val q = new Array[Double](SparseEmbed.Dim)
    q(3) = 1.0; q(7) = -2.0; q(11) = 1.0
    val fusedShape = live.searchHybrid(terms, q, nProbe = 2,
      kLex = 10, kDense = 10, kPool = 5, k = 3, mmrLam = None)
    assert(fusedShape.columns.toSeq == Seq("doc_id", "rrf", "rank"))
    val fused = fusedShape.collect()
    assert(fused.length == 5 &&
      fused.map(_.getLong(2)).toSeq == (1L to 5L),
      "None shape = the fused top-kPool ranking")
    val mmr = live.searchHybrid(terms, q, nProbe = 2,
      kLex = 10, kDense = 10, kPool = 5, k = 3, mmrLam = Some(0.5))
    assert(mmr.columns.toSeq == Seq("step", "doc_id", "sq"))
    val picks = mmr.collect()
    assert(picks.length == 3 && picks.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // every MMR pick comes from the fused pool
    val pool = fused.map(_.getLong(0)).toSet
    assert(picks.map(_.getLong(1)).forall(pool.contains),
      "MMR picks must come from the fused pool")
  }

  // every batched surface (raw/SQ8/PQ/BQ, MaxSim, MMR, hybrid): routing
  // runs once, in the checkpointed probe frame; the layout scan carries
  // the leaf_id In-list; the layout side never shuffles for a join
  test("batched plan shape: every surface routes once and scans only " +
      "its probed leaves") {
    import graft.functions.{bquant, quantize}
    import graft.operators.{ManifestFileIndex, ProductQuantizer, Serving}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledJoin}
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    def layout(df: DataFrame): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_srvplan").toString + "/idx"
      IvfIndex.write(df, dir, model)
      dir
    }
    val raw = Serving.open(spark, layout(
      indexed.withColumn("bq_code", bquant.packSigns(col("v")))),
      vecCol = "v")
    raw.attachLexical(emb.select(col("vec_id"), concat(lit("t"),
      (col("vec_id") % 5).cast("string")).as("text")), "vec_id", "text")
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

    val qs = emb.filter(col("vec_id").isin(3L, 21L, 42L))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val r = Seq(col("label") >= 0)
    val crowd = Some(("label", 3))
    val surfaces: Seq[(String, () => DataFrame)] = Seq(
      "raw" -> (() => raw.searchBatch(qs, "qid", "qv", 3, 5, r, crowd,
        None)),
      "sq8" -> (() => sq.searchBatchSq(qs, "qid", "qv", 3, 5, r, crowd)),
      "pq" -> (() => pq.searchBatchAdc(qs, "qid", "qv", 3, 5, r, crowd)),
      "bq" -> (() => raw.searchBatchBqRerank(qs, "qid", "qv", 3, 20, 5, r,
        crowd)),
      "maxsim" -> (() => raw.searchMaxSimBatch(
        qs.select(col("qid"), array(col("qv"), col("qv")).as("qvecs")),
        "qid", "qvecs", nProbe = 3, k = 5, docCol = "label")),
      "mmr" -> (() => raw.searchMmrBatch(qs, "qid", "qv", 3, 10, 5, 0.5,
        r)),
      "hybrid" -> (() => raw.searchHybridBatch(
        qs.withColumn("terms", array(lit("t1"), lit("t2"))), "qid",
        "terms", "qv", 3)))

    // the executed plan's nodes, walking into the AQE query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def isLayout(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.isInstanceOf[ManifestFileIndex]
      case _ => false
    }
    // a layout scan reaches p with no aggregation in between
    def layoutFeeds(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case a: AdaptiveSparkPlanExec => layoutFeeds(a.executedPlan)
      case s: QueryStageExec => layoutFeeds(s.plan)
      case other => isLayout(other) || other.children.exists(layoutFeeds)
    }
    for ((name, surface) <- surfaces) {
      val df = surface()
      assert(df.collect().nonEmpty, s"$name: no rows")
      val all = nodes(df.queryExecution.executedPlan)
      val routed = all.flatMap(_.expressions).filter(_.find {
        case _: graft.functions.NearestCentroids |
             _: graft.functions.RoutedNearestCentroidsF32 => true
        case _ => false
      }.isDefined)
      assert(routed.isEmpty,
        s"$name: routing runs in the executed plan, not once in the " +
          s"checkpointed probe frame: $routed")
      val scans = all.collect { case f: FileSourceScanExec if isLayout(f) => f }
      assert(scans.nonEmpty, s"$name: no layout scan in the plan")
      scans.foreach(f => assert(f.partitionFilters.exists(_.find {
          case i: In => i.value.references.exists(_.name == "leaf_id")
          case i: InSet => i.child.references.exists(_.name == "leaf_id")
          case _ => false
        }.isDefined),
        s"$name: layout scan without the leaf_id In-list: " +
          f.partitionFilters.mkString(", ")))
      assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$name: the candidate join is not a broadcast join")
      val shuffled = all.collect {
        case j: ShuffledJoin if j.children.exists(layoutFeeds) => j
      }
      assert(shuffled.isEmpty,
        s"$name: the layout side is shuffled for a join:\n" +
          shuffled.mkString("\n"))
    }
  }

  test("searchBatchPercent: uniform pct == searchBatch at the " +
      "equivalent nProbe; the clamp holds; out-of-contract pct fails " +
      "loudly in-plan") {
    import graft.operators.Serving
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvpct").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    val qids = Seq(3L, 21L, 42L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSeq
    // 25% of 8 leaves = 2 probes for every query
    val viaPct = rows(live.searchBatchPercent(
      emb.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("v"), lit(25.0).as("pct")),
      "qid", "v", "pct", maxProbe = 8, k = 5))
    val viaN = rows(live.searchBatch(
      emb.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("v")),
      "qid", "v", nProbe = 2, k = 5))
    assert(viaPct == viaN,
      s"uniform 25% must equal nProbe=2:\n$viaPct\n$viaN")
    // the global bound clamps: 100% wants 8 but maxProbe=2 wins
    val clamped = rows(live.searchBatchPercent(
      emb.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("v"), lit(100.0).as("pct")),
      "qid", "v", "pct", maxProbe = 2, k = 5))
    assert(clamped == viaN, "maxProbe must clamp a greedy per-query pct")
    // out-of-contract pct raises in-plan, not a silent full probe
    val bad = intercept[Exception] {
      live.searchBatchPercent(
        emb.filter(col("vec_id") === 3L)
          .select(col("vec_id").as("qid"), col("v"), lit(0.0).as("pct")),
        "qid", "v", "pct", maxProbe = 2, k = 5).collect()
    }
    assert(bad.getMessage != null)
  }

  test("Serving.searchBatch matches per-query search, query by query") {
    import graft.operators.Serving
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvbatch").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    val qids = Seq(3L, 7L, 11L, 42L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val batch = live.searchBatch(queries, "qid", "qv", nProbe = 3, k = 5)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    assert(batch.keySet == qids.toSet, "every query must get results")

    qids.foreach { q =>
      val qv = emb.filter(col("vec_id") === q)
        .select(col("v")).head().getSeq[Double](0).toArray
      val per = live.search(qv, 3, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(batch(q) == per,
        s"batch and per-query results diverge for query $q:\n" +
          s"batch=${batch(q)}\nper=$per")
    }
  }

  test("searchMaxSimBatch matches per-qid searchMaxSim, query by " +
      "query (different token-vector counts in one plan)") {
    import graft.operators.Serving
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvmaxsimb").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    val byId = emb.filter(col("vec_id") <= 6L)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val groups = Map(
      0L -> Seq(byId(0L), byId(1L)),
      1L -> Seq(byId(2L), byId(3L), byId(4L), byId(5L)),
      2L -> Seq(byId(6L)))
    val queries = groups.toSeq.sortBy(_._1).toDF("qid", "qvecs")
    val batch = live.searchMaxSimBatch(queries, "qid", "qvecs",
        nProbe = 3, k = 5, docCol = "label")
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getInt(1), r.getDouble(2))).toSeq).toMap
    assert(batch.keySet == groups.keySet, "every query must get results")
    for ((qid, vecs) <- groups) {
      val per = live.searchMaxSim(vecs.map(_.toArray), nProbe = 3,
          k = 5, docCol = "label")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
      assert(batch(qid) == per,
        s"batch and per-qid MaxSim diverge for $qid:\n" +
          s"batch=${batch(qid)}\nper=$per")
    }
  }

  test("MaxSim restricts: a tautology changes nothing, a real " +
      "restrict excludes its rows from scoring, and the predicate " +
      "reaches the scan's PushedFilters — on the raw tier and the " +
      "BQ shortlist-rescore") {
    import graft.operators.Serving
    import graft.functions.bquant
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed0, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val indexed = indexed0.withColumn("bq_code", bquant.packSigns(col("v")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvmaxsimr").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    val qvecs = emb.filter(col("vec_id") <= 2L)
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val plain = rows(live.searchMaxSim(qvecs, 3, 5, "label"))
    val taut = rows(live.searchMaxSim(qvecs, 3, 5, "label",
      restricts = Seq(col("label") >= 0)))
    assert(taut == plain, "a tautology restrict must change nothing")
    val restricted = live.searchMaxSim(qvecs, 3, 5, "label",
      restricts = Seq(col("label") % 2 === 0))
    restricted.collect().foreach(r =>
      assert(r.getInt(0) % 2 == 0, "excluded labels must not score"))
    // the simple-comparison form lands in the scan's pushed filters
    val pushed = live.searchMaxSim(qvecs, 3, 5, "label",
        restricts = Seq(col("label") <= 4))
      .queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters: [") &&
      pushed.contains("LessThanOrEqual(label,4)"),
      s"restrict must reach the scan:\n$pushed")
    // BQ two-stage: restricts bind BOTH stages (an excluded doc can
    // neither shortlist nor rescore)
    val bq = live.searchMaxSimBq(qvecs, nProbe = 3, m = 100000, k = 5,
      docCol = "label", restricts = Seq(col("label") % 2 === 0))
    bq.collect().foreach(r =>
      assert(r.getInt(0) % 2 == 0, "BQ stages must honor the restrict"))
    // admit-all m + same restrict ≡ the raw filtered MaxSim
    assert(rows(bq) == rows(restricted))
    // BATCHED form: a one-qid batch with the same restrict matches
    // the per-query filtered result row for row
    import spark.implicits._
    val queries = Seq((0L, qvecs.map(_.toSeq))).toDF("qid", "qvecs")
    val batched = live.searchMaxSimBatch(queries, "qid", "qvecs",
        nProbe = 3, k = 5, docCol = "label",
        restricts = Seq(col("label") % 2 === 0))
      .collect().sortBy(_.getLong(3))
      .map(r => (r.getInt(1), r.getDouble(2))).toSeq
    assert(batched == restricted.collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq,
      "batched restricted MaxSim must equal the per-query form")
  }

  test("searchMaxSimBatchPerQuery: a NULL-map qid matches the " +
      "unrestricted batch row for row; an allow-map key outside the " +
      "enumerated attrs raises in-plan") {
    import graft.operators.Serving
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvmaxsimpq").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    val byId = emb.filter(col("vec_id") <= 2L)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val qs = Seq((0L, Seq(byId(0L), byId(1L)),
      Option.empty[Map[String, Seq[String]]])).toDF("qid", "qvecs", "allow")
    val got = live.searchMaxSimBatchPerQuery(qs, "qid", "qvecs",
        "allow", Seq("label"), nProbe = 3, k = 5, docCol = "label")
      .collect().map(r => (r.getInt(1), r.getDouble(2))).toSeq
    val plain = live.searchMaxSimBatch(
        qs.select("qid", "qvecs"), "qid", "qvecs",
        nProbe = 3, k = 5, docCol = "label")
      .collect().map(r => (r.getInt(1), r.getDouble(2))).toSeq
    assert(got == plain, "NULL map must be unrestricted")
    val bad = Seq((0L, Seq(byId(0L)),
      Option(Map("nope" -> Seq("1"))))).toDF("qid", "qvecs", "allow")
    val e = intercept[Exception] {
      live.searchMaxSimBatchPerQuery(bad, "qid", "qvecs", "allow",
        Seq("label"), nProbe = 2, k = 3, docCol = "label").collect()
    }
    assert(e.getMessage.contains("allow") ||
      Option(e.getCause).exists(_.getMessage.contains("allow")),
      s"out-of-contract key must raise loudly: ${e.getMessage}")
    // per-query k is contract-validated in-plan like the allow/NUMERIC
    // columns: 0 would silently empty that qid's results, so it
    // raises instead; NULL still falls back to the global k
    val kq = Seq(
      (0L, Seq(byId(0L)), Option.empty[Map[String, Seq[String]]], 0L))
      .toDF("qid", "qvecs", "allow", "kq")
    val ek = intercept[Exception] {
      live.searchMaxSimBatchPerQuery(kq, "qid", "qvecs", "allow",
        Seq("label"), nProbe = 2, k = 3, docCol = "label",
        kCol = Some("kq")).collect()
    }
    assert(ek.getMessage.contains("positive") ||
      Option(ek.getCause).exists(_.getMessage.contains("positive")),
      s"non-positive per-query k must raise loudly: ${ek.getMessage}")
  }

  test("searchBatch FULL shape (restricts+crowding+metadata) matches " +
      "the per-query 10-arg searchDf, query by query") {
    import graft.operators.Serving
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvbatchfull").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    val qids = Seq(3L, 7L, 42L)
    val restricts = Seq(col("vec_id") >= 10, col("label") =!= 1)
    val crowding = Some(("label", 2))
    val meta = emb.select("vec_id", "label")
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))

    val batch = live.searchBatch(queries, "qid", "qv", nProbe = 3, k = 5,
        restricts, crowding, Some((meta, "vec_id")))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq).toMap
    assert(batch.keySet == qids.toSet, "every query must get results")

    qids.foreach { q =>
      val qv = emb.filter(col("vec_id") === q)
        .select(col("v")).head().getSeq[Double](0).toArray
      // the single-query FULL serving shape over the same held frame
      val per = IvfIndex.searchDf(live.data, model, qv, 3, 5,
          "vec_id", "v", restricts, crowding, Some((meta, "vec_id")))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(batch(q) == per,
        s"full-shape batch and per-query diverge for query $q:\n" +
          s"batch=${batch(q)}\nper=$per")
    }
  }

  test("a pinned snapshot serves bit-identical results while a live " +
      "upsert stream races it") {
    // the SCALE.md claim under ACTUAL concurrency: a serving process
    // holding one logged snapshot keeps answering from exactly that
    // file-set while a Structured Stream of upserts lands next to it —
    // appends only ADD files, so the pinned version's set stays fully
    // readable and every result is bit-identical for the whole run
    import graft.operators.Serving
    import graft.streaming.IndexMaintenance
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvconc").toString + "/idx"
    IvfIndex.write(indexed, dir, model)

    val pinned = Serving.openAt(spark, dir, 1, id = "vec_id",
      vecCol = "v").get
    val q = emb.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray
    val baseline = pinned.search(q, 3, 10).collect().toSeq
    assert(baseline.size == 10)

    // the r_stream_serve machinery as a REAL stream: each micro-batch
    // is one serving upsert (new ids, near the query so they WOULD
    // displace results if the pin leaked)
    val stream = MemoryStream[(Long, Seq[Double], Long)]
    val writerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val sq = stream.toDF.toDF("vec_id", "v", "version")
      .writeStream.outputMode("append")
      .option("checkpointLocation", dir + ".ckpt")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
        IndexMaintenance.appendToServing(spark, dir, batch,
          "vec_id", "v", "version")
      }
      .start()
    val writer = new Thread(() => {
      try {
        (1 to 6).foreach { i =>
          val rows = (0 until 25).map { j =>
            (2000000L + i * 1000L + j,
              q.toSeq.map(x => x * (1.0 + 0.001 * j)), 1L)
          }
          stream.addData(rows: _*)
          sq.processAllAvailable()
        }
      } catch { case t: Throwable => writerError.set(t) }
    })
    writer.start()
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    var racedReads = 0
    while (writer.isAlive) {
      val t0 = System.nanoTime()
      val r = pinned.search(q, 3, 10).collect().toSeq
      latencies += (System.nanoTime() - t0) / 1e9
      assert(r == baseline,
        s"pinned snapshot drifted mid-stream after ${racedReads + 1} " +
          s"reads:\ngot=$r\nexpected=$baseline")
      racedReads += 1
    }
    writer.join()
    sq.stop()
    assert(writerError.get() == null,
      s"upsert stream failed: ${writerError.get()}")
    assert(racedReads >= 1, "at least one read must race the stream")
    // after the race: the pin still serves the original set, a fresh
    // LIVE open sees every streamed id
    assert(pinned.search(q, 3, 10).collect().toSeq == baseline)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    assert(live.data.filter(col("vec_id") >= 2000000L)
      .select("vec_id").distinct().count() == 150)
    val sorted = latencies.sorted
    info(f"pinned-read latency under write load: " +
      f"p50=${sorted(sorted.size / 2)}%.3f s over $racedReads raced reads")
  }

  test("searchAdaptive: selective restricts take the exact pre-filter " +
      "plan (stats-skipped scan, full recall); unselective ones probe") {
    import graft.operators.{Serving, ServingManifest}
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = graft.operators.IvfIndex.Model(cents)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_adaptive").toString + "/idx"
    val indexed = emb.withColumn("leaf_id",
      explode(graft.operators.IvfIndex.probeExpr(model, col("v"), 2)))
    graft.operators.IvfIndex.write(indexed, dir, model)
    ServingManifest.promote(spark, dir, Seq("version"))
    // the append: NEGATED vectors (they cluster far from the query's
    // probed leaves), new ids, version 2 — the rows a selective
    // freshness restrict wants and a probe would miss
    val b1 = emb.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    // spill=1: each appended id lives in exactly ONE leaf — the
    // negated vectors concentrate opposite the query, so a probe
    // near the query demonstrably misses them below
    IndexMaintenance.appendToServing(spark, dir, b1, "vec_id", "v",
      "version", spill = 1)

    val serving = Serving.open(spark, dir, id = "vec_id", vecCol = "v")
    val sel = Seq(col("version") >= 2)

    // the estimator sees what the scan will skip: only appended bytes
    val est = ServingManifest.estimateRestrict(spark, dir, sel).get
    assert(est.keptFiles < est.totalFiles && est.keptBytes > 0,
      s"estimate must prove selectivity, got $est")
    assert(serving.searchAdaptivePlan(sel, 0.5))
    assert(!serving.searchAdaptivePlan(Seq(col("version") >= 1), 0.5),
      "a restrict satisfied by every file must go down the probed plan")
    assert(!serving.searchAdaptivePlan(Nil, 0.5))

    val query = emb.filter(col("vec_id") === 0)
      .select(col("v")).head().getSeq[Double](0).toArray
    val adaptive = serving.searchAdaptive(query, nProbe = 2, k = 10,
      restricts = sel, maxExactFraction = 0.5)
    val n = adaptive.collect().length
    // the exact plan's scan reads ONLY the stats-surviving files —
    // asserted on the restricted scan itself (the same scan child the
    // adaptive plan executes; the aggregate on top hides it behind
    // AQE query stages)
    val restrictedScan = serving.data.filter(col("version") >= 2)
    restrictedScan.collect()
    // the LWW join wraps the plan in AQE query stages — walk into them
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(restrictedScan.queryExecution.executedPlan)
      .find(_.relation.location.isInstanceOf[
        graft.operators.ManifestFileIndex])
      .getOrElse(fail("no manifest-backed scan in the restricted plan"))
    assert(scan.metrics("numFiles").value == est.keptFiles,
      "the restricted scan must read exactly the estimated files")
    // full recall: ground truth is the brute-force filtered top-k
    val truth = serving.data.filter(col("version") >= 2)
      .select(col("vec_id"),
        graft.functions.vectors.dotProduct(col("v"),
          typedLit(query.toSeq)).as("score"))
      // collapse spill copies — one candidate per id, like the engine
      .groupBy(col("vec_id")).agg(max(col("score")).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = adaptive.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == truth, "exact plan must return the true filtered top-k")
    assert(n == truth.length)
    // and the probed plan genuinely misses here — the reason the
    // adaptive decision exists (negated vectors live outside the
    // query's probed leaves)
    val probed = serving.search(query, 1, 10, sel, None, None)
      .collect().map(_.getLong(0)).toSet
    val missed = truth.map(_._1).toSet -- probed
    assert(missed.nonEmpty,
      s"construction check: the probed plan should miss filtered rows " +
        s"(probed found ${probed.size} of ${truth.size})")
  }

  test("searchBatch parity bound on a ROUTER-ENGAGED model") {
    // the batch path routes with the broadcast float32 matrix while
    // per-query search routes the exact double walk; below the router
    // threshold they are identical (asserted above), past it float32
    // can flip near-tied centroid rankings. This pins the divergence
    // to a measured bound instead of leaving it anecdotal: ≥90% of
    // every query's per-query top-k must survive in the batch result.
    import graft.operators.Serving
    val base = graft.pipeline.SyntheticCorpus.vectors(spark, 20000L, 8, 256)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // 256 centroids = the planted cluster centers (vec_ids 0-255 hit
    // every cluster once); hand-attach a router so the routed branch
    // engages at a spec-sized leaf count (build() only routes ≥1024)
    val cents = base.filter(col("vec_id") < 256)
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val router = IvfIndex.Router.build(cents)
    val model = IvfIndex.Model(cents,
      IvfIndex.BuildStats(20000L, 20000L, 0L), Some(router))
    assert(model.routed(router, 2),
      "the router must engage for this spec to test anything")
    val indexed = base.withColumn("leaf_id",
      IvfIndex.leafExprMinL2(col("v"), cents.toSeq).cast("int"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvrouted").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    val live = Serving.open(spark, dir, id = "vec_id", vecCol = "v")

    val qids = (1000L to 1015L).toSeq
    val queries = base.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val batch = live.searchBatch(queries, "qid", "qv", nProbe = 2, k = 10)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val qvs = base.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    qids.foreach { q =>
      val per = live.search(qvs(q), 2, 10).collect()
        .map(_.getLong(0)).toSet
      val overlap = (batch(q) & per).size.toDouble / per.size
      assert(overlap >= 0.9,
        s"router-engaged batch/per-query overlap $overlap < 0.9 for " +
          s"query $q: batch=${batch(q)}, per=$per")
    }
  }
}
