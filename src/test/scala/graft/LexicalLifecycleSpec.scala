package graft

import graft.operators.{IvfIndex, Lexical, Serving}
import graft.streaming.IndexMaintenance
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The lexical sidecar's STREAM_UPDATE lifecycle (round 16 — the r15
  * verdict's hybrid-serving staleness hole): version stamping, loud
  * skew failure, incremental postings, delta-registry LWW (deletes +
  * resurrection), pinned-snapshot bit-stability, and the
  * layout/sidecar skew guards on the MMR tail.
  */
class LexicalLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  private val terms = Seq("alpha", "beta")
  private val qv = Array(1.0, 0.0)

  private val baseDocs = Seq(
    (0L, "alpha beta gamma"),
    (1L, "alpha alpha delta"),
    (2L, "beta beta epsilon"),
    (3L, "gamma delta epsilon"),
    (4L, "alpha beta beta zeta"),
    (5L, "zeta eta theta"),
    (6L, "beta gamma gamma"),
    (7L, "alpha zeta zeta eta"))

  private def denseify(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("v",
      array(col("doc_id").cast("double"), lit(1.0)).cast("array<double>"))

  private def mkLayout(docs: Seq[(Long, String)],
      attach: Boolean = true): String = {
    val path = Files.createTempDirectory("graft_lexlc").toString + "/idx"
    val df = denseify(docs.toDF("doc_id", "text"))
      .withColumn("version", lit(1L))
    val model = IvfIndex.Model(Array(Array(0.0, 1.0), Array(8.0, 1.0)))
    val indexed = df.select("doc_id", "v", "version")
      .withColumn("leaf_id", IvfIndex.probeExpr(model, col("v"), 1)(0))
    IvfIndex.write(indexed, path, model) // manifest log v1
    if (attach)
      Lexical.attach(spark, path, docs.toDF("doc_id", "text"),
        "doc_id", "text")
    path
  }

  private def upBatch(rows: Seq[(Long, String, Long)]) =
    denseify(rows.toDF("doc_id", "text", "version"))
      .select("doc_id", "v", "version", "text")

  private def scores(path: String): Seq[(Long, Long)] =
    Serving.open(spark, path, id = "doc_id", vecCol = "v")
      .lexicalScores(terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("append WITHOUT textCol leaves the sidecar stale and " +
      "searchHybrid fails LOUDLY on the version skew") {
    val path = mkLayout(baseDocs)
    IndexMaintenance.appendToServing(spark, path,
      upBatch(Seq((20L, "alpha omega", 2L))).drop("text"),
      "doc_id", "v", "version", spill = 1)
    val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
    val e = intercept[IllegalArgumentException] {
      serving.searchHybrid(terms, qv, nProbe = 1)
    }
    assert(e.getMessage.contains("without lexical maintenance") &&
      e.getMessage.contains("searchHybrid:"), e.getMessage)
    // lexicalScores is guarded by the same gate
    val e2 = intercept[IllegalArgumentException] {
      serving.lexicalScores(terms)
    }
    assert(e2.getMessage.contains("without lexical maintenance"))
  }

  test("incremental postings append == one-shot attach over the " +
      "same live corpus (bit-identical BM25)") {
    val path = mkLayout(baseDocs)
    val newDocs = Seq((20L, "alpha omega omega", 2L),
      (21L, "beta beta omega", 2L))
    IndexMaintenance.appendToServing(spark, path, upBatch(newDocs),
      "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    val oneShot = mkLayout(baseDocs ++ newDocs.map(r => (r._1, r._2)))
    assert(scores(path) == scores(oneShot))
    assert(scores(path).map(_._1).contains(20L))
  }

  test("delete drops a doc from BM25; a later re-upsert resurrects " +
      "it scoring its NEWEST text only") {
    val path = mkLayout(baseDocs)
    IndexMaintenance.removeFromServing(spark, path,
      Seq((0L, 5L)).toDF("doc_id", "version"), "doc_id", "version")
    assert(!scores(path).map(_._1).contains(0L),
      "tombstoned doc still scored by the lexical leg")
    // resurrect with different text (higher LWW version)
    IndexMaintenance.appendToServing(spark, path,
      upBatch(Seq((0L, "beta beta beta", 6L))),
      "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    val got = scores(path)
    assert(got.map(_._1).contains(0L), "resurrected doc missing")
    // equivalent one-shot corpus: doc 0 carries ONLY its new text
    val oneShot = mkLayout(
      baseDocs.map { case (i, t) => if (i == 0L) (i, "beta beta beta") else (i, t) })
    assert(got == scores(oneShot),
      "resurrected doc must score by its newest text only")
  }

  test("pinned hybrid is bit-stable across later appends and deletes") {
    val path = mkLayout(baseDocs)
    def pinned() = Serving.openAt(spark, path, 1,
      id = "doc_id", vecCol = "v").get
      .searchHybrid(terms, qv, nProbe = 2, kLex = 20, kDense = 20,
        kPool = 10, k = 5, mmrLam = Some(0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = pinned()
    IndexMaintenance.appendToServing(spark, path,
      upBatch(Seq((20L, "alpha alpha alpha alpha", 2L))),
      "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    IndexMaintenance.removeFromServing(spark, path,
      Seq((0L, 5L)).toDF("doc_id", "version"), "doc_id", "version")
    assert(pinned() == before,
      "post-pin append/delete leaked into the pinned hybrid view")
    // while the LIVE handle sees both mutations
    val live = Serving.open(spark, path, id = "doc_id", vecCol = "v")
      .searchHybrid(terms, qv, nProbe = 2, kLex = 20, kDense = 20,
        kPool = 10, k = 5, mmrLam = Some(0.5))
      .collect().map(_.getLong(1)).toSeq
    assert(live.contains(20L), "live hybrid must rank the upserted doc")
    assert(!live.contains(0L), "live hybrid served a tombstoned doc")
  }

  test("appendToServing with textCol on a sidecar-less layout fails " +
      "loudly") {
    val path = mkLayout(baseDocs, attach = false)
    val e = intercept[IllegalArgumentException] {
      IndexMaintenance.appendToServing(spark, path,
        upBatch(Seq((20L, "alpha", 2L))),
        "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    }
    assert(e.getMessage.contains("no lexical sidecar"), e.getMessage)
  }

  test("searchHybrid MMR on a string-id layout fails loudly instead " +
      "of collapsing ids through a null cast") {
    val path = Files.createTempDirectory("graft_lexlc").toString + "/idx"
    val df = baseDocs.toDF("did", "text")
      .select(concat(lit("doc-"), col("did")).as("doc_id"), col("text"),
        array(col("did").cast("double"), lit(1.0)).cast("array<double>").as("v"))
    val model = IvfIndex.Model(Array(Array(0.0, 1.0), Array(8.0, 1.0)))
    val indexed = df.select("doc_id", "v")
      .withColumn("leaf_id", IvfIndex.probeExpr(model, col("v"), 1)(0))
    IvfIndex.write(indexed, path, model)
    Lexical.attach(spark, path, df.select("doc_id", "text"),
      "doc_id", "text")
    val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
    val e = intercept[IllegalArgumentException] {
      serving.searchHybrid(terms, qv, nProbe = 1, mmrLam = Some(0.5))
    }
    assert(e.getMessage.contains("must be integral"), e.getMessage)
    // the fused (None) shape has no bigint cast and stays servable
    assert(serving.searchHybrid(terms, qv, nProbe = 2).count() > 0)
  }

  test("a sidecar over a SUPERSET corpus fails the MMR pool fetch " +
      "loudly instead of silently shrinking the diversity pool") {
    val path = mkLayout(baseDocs, attach = false)
    // attach covers a doc the layout does not hold — and that doc
    // dominates the lexical ranking, so it reaches the fused pool
    Lexical.attach(spark, path,
      (baseDocs :+ (99L, "alpha alpha alpha alpha alpha"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
    val e = intercept[IllegalArgumentException] {
      serving.searchHybrid(terms, qv, nProbe = 2, kLex = 20,
        kDense = 20, kPool = 10, k = 5, mmrLam = Some(0.5))
    }
    assert(e.getMessage.contains("have vectors in the layout"),
      e.getMessage)
  }

  test("searchMmrBatch == searchMmr per query (routing, pool cut, " +
      "recurrence all consistent)") {
    val path = mkLayout(baseDocs)
    val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
    val queries = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(-1.0, 2.0)))
      .toDF("query_id", "qv")
    val batch = serving.searchMmrBatch(queries, "query_id", "qv",
      nProbe = 2, kPool = 5, k = 3, lam = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    for ((qid, q) <- Seq((0L, Array(1.0, 0.0)), (1L, Array(-1.0, 2.0)))) {
      val single = serving.searchMmr(q, nProbe = 2, kPool = 5, k = 3,
        lam = 0.5)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSeq
      assert(batch.filter(_._1 == qid) == single,
        s"batch and single MMR diverge for query $qid")
    }
  }

  test("compactServing carries the lexical sidecar RESOLVED — hybrid " +
      "serving survives compaction without a re-attach") {
    val path = mkLayout(baseDocs)
    IndexMaintenance.appendToServing(spark, path,
      upBatch(Seq((20L, "alpha omega omega", 2L))),
      "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    IndexMaintenance.removeFromServing(spark, path,
      Seq((0L, 5L)).toDF("doc_id", "version"), "doc_id", "version")
    IndexMaintenance.compactServing(spark, path, "doc_id", "version")
    // fresh manifest, fresh stamp — the freshness gate passes
    assert(Lexical.stampedVersion(spark, path) ==
      Some(graft.operators.ServingManifest.versions(spark, path).last))
    // scores == a one-shot layout over the compacted live corpus
    // (tombstoned doc gone, upserted doc present)
    val oneShot = mkLayout(
      baseDocs.filterNot(_._1 == 0L) :+ ((20L, "alpha omega omega")))
    assert(scores(path) == scores(oneShot))
    // and the full hybrid surface still serves
    val picks = Serving.open(spark, path, id = "doc_id", vecCol = "v")
      .searchHybrid(terms, qv, nProbe = 2, kLex = 20, kDense = 20,
        kPool = 10, k = 5, mmrLam = Some(0.5))
      .collect().map(_.getLong(1)).toSeq
    assert(picks.nonEmpty && !picks.contains(0L))
  }

  test("searchHybridBatch == searchHybrid per query (shared postings " +
      "scan, union-invariant df, independent recurrences)") {
    val path = mkLayout(baseDocs)
    val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
    val batchQs = Seq(
      (0L, Seq("alpha", "beta"), Seq(1.0, 0.0)),
      (1L, Seq("gamma", "zeta"), Seq(-1.0, 2.0)))
      .toDF("query_id", "terms", "qv")
    val batch = serving.searchHybridBatch(batchQs, "query_id", "terms",
      "qv", nProbe = 2, kLex = 10, kDense = 10, kPool = 6, k = 3,
      mmrLam = Some(0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    for ((qid, ts, q) <- Seq((0L, Seq("alpha", "beta"), Array(1.0, 0.0)),
        (1L, Seq("gamma", "zeta"), Array(-1.0, 2.0)))) {
      val single = serving.searchHybrid(ts, q, nProbe = 2, kLex = 10,
        kDense = 10, kPool = 6, k = 3, mmrLam = Some(0.5))
        .collect().map(r => (qid, r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSeq
      assert(batch.filter(_._1 == qid) == single,
        s"batch and single hybrid diverge for query $qid")
    }
    // fused (None) shape: per-query rankings match too
    val fusedB = serving.searchHybridBatch(batchQs, "query_id", "terms",
      "qv", nProbe = 2, kLex = 10, kDense = 10, kPool = 6, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    for ((qid, ts, q) <- Seq((0L, Seq("alpha", "beta"), Array(1.0, 0.0)),
        (1L, Seq("gamma", "zeta"), Array(-1.0, 2.0)))) {
      val fusedS = serving.searchHybrid(ts, q, nProbe = 2, kLex = 10,
        kDense = 10, kPool = 6, k = 3)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1),
          r.getLong(2))).toSeq
      assert(fusedB.filter(_._1 == qid) == fusedS,
        s"batch and single fused rankings diverge for query $qid")
    }
  }

  test("hybrid serves a layout whose id column is NOT named doc_id " +
      "(the sidecar keys by doc_id internally; the handle's id name " +
      "surfaces)") {
    val path = Files.createTempDirectory("graft_lexlc").toString + "/idx"
    val df = baseDocs.toDF("vid", "text")
      .withColumn("v",
        array(col("vid").cast("double"), lit(1.0)).cast("array<double>"))
    val model = IvfIndex.Model(Array(Array(0.0, 1.0), Array(8.0, 1.0)))
    val indexed = df.select("vid", "v")
      .withColumn("leaf_id", IvfIndex.probeExpr(model, col("v"), 1)(0))
    IvfIndex.write(indexed, path, model)
    Lexical.attach(spark, path, df.select("vid", "text"), "vid", "text")
    val serving = Serving.open(spark, path, id = "vid", vecCol = "v")
    val lex = serving.lexicalScores(terms)
    assert(lex.columns.toSeq == Seq("vid", "score"))
    val picks = serving.searchHybrid(terms, qv, nProbe = 2, kLex = 10,
      kDense = 10, kPool = 6, k = 3, mmrLam = Some(0.5))
    assert(picks.columns.toSeq == Seq("step", "vid", "sq"))
    assert(picks.count() == 3)
  }

  test("a Structured Stream of text-carrying upserts keeps hybrid " +
      "serving fresh across micro-batches — STREAM_UPDATE covers the " +
      "lexical leg the way it covers vectors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = mkLayout(baseDocs)
    val stream = MemoryStream[(Long, String, Long, Boolean)]
    val sq = stream.toDF.toDF("doc_id", "text", "version", "tombstone")
      .writeStream.outputMode("append")
      .option("checkpointLocation", path + ".ckpt")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
        val ups = denseify(batch.filter(!col("tombstone"))
          .drop("tombstone"))
          .select("doc_id", "v", "version", "text")
        val dels = batch.filter(col("tombstone"))
          .select("doc_id", "version")
        if (!ups.isEmpty)
          IndexMaintenance.appendToServing(spark, path, ups,
            "doc_id", "v", "version", spill = 1, textCol = Some("text"))
        if (!dels.isEmpty)
          IndexMaintenance.removeFromServing(spark, path, dels,
            "doc_id", "version")
      }
      .start()
    def send(rows: (Long, String, Long, Boolean)*): Unit = {
      stream.addData(rows: _*); sq.processAllAvailable()
    }
    // b1: two new docs; b2: delete a base doc; b3: re-upsert doc 0
    // with NEW text — three micro-batches, three lifecycle shapes
    send((30L, "alpha omega", 2L, false),
      (31L, "beta omega omega", 2L, false))
    send((1L, "", 3L, true))
    send((0L, "beta beta beta", 4L, false))
    sq.stop()
    // the streamed state must score exactly like a one-shot layout
    // over the final live corpus
    val expect = mkLayout(
      baseDocs.filterNot(_._1 == 1L)
        .map { case (i, t) => if (i == 0L) (i, "beta beta beta") else (i, t) }
        ++ Seq((30L, "alpha omega"), (31L, "beta omega omega")))
    assert(scores(path) == scores(expect),
      "streamed lexical state diverges from the one-shot corpus")
    // and the hybrid surface serves it without any re-attach
    val picks = Serving.open(spark, path, id = "doc_id", vecCol = "v")
      .searchHybrid(terms, qv, nProbe = 2, kLex = 20, kDense = 20,
        kPool = 10, k = 5, mmrLam = Some(0.5))
      .collect().map(_.getLong(1)).toSeq
    assert(picks.nonEmpty && !picks.contains(1L))
  }

  test("cloneServing carries the lexical sidecar — a cloned hybrid " +
      "endpoint answers exactly like its source (live and pinned)") {
    val path = mkLayout(baseDocs)
    IndexMaintenance.appendToServing(spark, path,
      upBatch(Seq((20L, "alpha omega omega", 2L),
        (0L, "beta beta beta", 2L))),
      "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    IndexMaintenance.removeFromServing(spark, path,
      Seq((2L, 3L)).toDF("doc_id", "version"), "doc_id", "version")
    def hybrid(p: String, pin: Option[Int] = None) = {
      val h = pin match {
        case None => Serving.open(spark, p, id = "doc_id", vecCol = "v")
        case Some(v) => Serving.openAt(spark, p, v,
          id = "doc_id", vecCol = "v").get
      }
      h.searchHybrid(terms, qv, nProbe = 2, kLex = 20, kDense = 20,
        kPool = 10, k = 5, mmrLam = Some(0.5))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    }
    // LIVE clone: verbatim rows + delta → identical answers, and the
    // freshness stamp matches the clone's own fresh manifest
    val live = Files.createTempDirectory("graft_lexclone").toString + "/live"
    IndexMaintenance.cloneServing(spark, path, live)
    assert(hybrid(live) == hybrid(path),
      "live clone's hybrid diverges from the source")
    // a later mutation on the SOURCE must not leak into the clone
    IndexMaintenance.removeFromServing(spark, path,
      Seq((0L, 9L)).toDF("doc_id", "version"), "doc_id", "version")
    assert(hybrid(live).map(_._2).contains(0L),
      "clone must be independent of post-clone source mutations")
    // PINNED clone: resolved-as-of-v1 sidecar, pristine base — the
    // clone's live hybrid equals the source's v1-pinned hybrid
    val pinned = Files.createTempDirectory("graft_lexclone").toString + "/v1"
    IndexMaintenance.cloneServing(spark, path, pinned, version = Some(1))
    assert(hybrid(pinned) == hybrid(path, pin = Some(1)),
      "pinned clone's hybrid diverges from the source's pinned view")
  }

  test("plan audit: the LIVED-IN resolution keeps the postings scan " +
      "bucket-pruned, and the batched hybrid keeps the data scan " +
      "leaf-pruned") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = mkLayout(baseDocs)
    IndexMaintenance.appendToServing(spark, path,
      upBatch(Seq((20L, "alpha omega", 2L))),
      "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    // lived-in (non-pristine) path: the LWW joins sit ABOVE the
    // postings scan — the bucket In-list must still reach it as a
    // partition filter, or every query pays a full postings read
    val scans1 = Lexical.bm25FromStats(spark, path, terms)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f
      }
    assert(scans1.exists(_.partitionFilters.exists(
      _.toString.contains("bucket"))),
      "lived-in postings scan lost its bucket partition filter")
    // batched hybrid (fused shape — no checkpoint boundary hides the
    // legs): postings bucket-pruned AND corpus scan leaf-pruned
    val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
    val qs = Seq((0L, Seq("alpha", "beta"), Seq(1.0, 0.0)),
      (1L, Seq("gamma", "zeta"), Seq(-1.0, 2.0)))
      .toDF("query_id", "terms", "qv")
    val scans2 = serving.searchHybridBatch(qs, "query_id", "terms", "qv",
        nProbe = 2, kLex = 10, kDense = 10, kPool = 6, k = 3)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f
      }
    assert(scans2.exists(_.partitionFilters.exists(
      _.toString.contains("bucket"))),
      "batched hybrid's postings scan lost its bucket partition filter")
    assert(scans2.exists(s => s.partitionFilters.exists(f =>
      f.toString.contains("leaf_id") && f.toString.contains("IN"))),
      "batched hybrid's corpus scan lost its leaf_id In-list")
  }

  test("the autopilot sweep reports lexical staleness: -1 no sidecar, " +
      "0 fresh, 1 stale; a compacting sweep restores freshness") {
    import IndexMaintenance.MaintenancePolicy
    val bare = mkLayout(baseDocs, attach = false)
    val policy = MaintenancePolicy(maxLeafSize = 1000000)
    assert(IndexMaintenance.maintain(spark, bare, "doc_id", "v",
      "version", policy).lexicalStale == -1)
    val path = mkLayout(baseDocs)
    assert(IndexMaintenance.maintain(spark, path, "doc_id", "v",
      "version", policy).lexicalStale == 0)
    // append WITHOUT text → manifest moves, sidecar stamp lags
    IndexMaintenance.appendToServing(spark, path,
      upBatch(Seq((20L, "alpha", 2L))).drop("text"),
      "doc_id", "v", "version", spill = 1)
    assert(IndexMaintenance.maintain(spark, path, "doc_id", "v",
      "version", policy).lexicalStale == 1,
      "sweep must flag the stale sidecar")
    // a compacting sweep must NOT launder the stale sidecar into a
    // fresh-stamped PARTIAL one (the bypassing append's text never
    // entered the postings): the carry is skipped, the compacted
    // layout is sidecar-less, and the report says so — loud either way
    val r = IndexMaintenance.maintain(spark, path, "doc_id", "v",
      "version", policy.copy(maxDeltaRows = 0L))
    assert(r.compacted && r.lexicalStale == -1,
      s"compaction must drop (not launder) a stale sidecar, got $r")
    assert(!Serving.open(spark, path, id = "doc_id", vecCol = "v")
      .hasLexical)
    // whereas compacting a FRESH lived-in layout carries it (proven
    // in the dedicated compaction test above)
  }

  test("hasStats resolves through the path's Hadoop filesystem " +
      "(file: URI layouts)") {
    val path = mkLayout(baseDocs)
    assert(Lexical.hasStats(spark, "file:" + path))
    assert(Lexical.stampedVersion(spark, "file:" + path).contains(1))
  }

  /** Eight base docs plus 120 docs over 300 generated terms: the
    * attach fills more than 32 of the 64 term buckets, past Spark's
    * parallel partition-discovery threshold. */
  private val wideDocs = baseDocs ++ (10 until 130).map { i =>
    (i.toLong, s"w${i % 300} w${(i * 7) % 300} w${(i * 13 + 5) % 300} " +
      (if (i % 3 == 0) "alpha" else "beta"))
  }
  private val wideBatch = Seq((200L, "alpha omega omega w11", 2L),
    (201L, "beta beta omega w12 w13", 2L))

  private def postingsDir(path: String) = s"$path/${Lexical.Dir}/postings"

  private def bucketDirs(path: String): Seq[String] =
    new java.io.File(postingsDir(path)).listFiles().toSeq
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("bucket="))

  private def postingsFiles(path: String): Set[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(postingsDir(path)))
      .filter(_.getName.endsWith(".parquet")).toSet
  }

  test("an upsert writes its postings as ONE append run (bucket=-1, at " +
      "most one file per batch partition), scores like a one-shot " +
      "attach, and compaction folds the run into the hash buckets") {
    val path = mkLayout(wideDocs)
    assert(bucketDirs(path).size > 32, bucketDirs(path))
    val before = postingsFiles(path)
    IndexMaintenance.appendToServing(spark, path, upBatch(wideBatch),
      "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    val added = postingsFiles(path) -- before
    assert(added.nonEmpty &&
      added.forall(_.getParentFile.getName == s"bucket=${Lexical.AppendRun}"),
      s"appended postings files outside the append run: $added")
    val batchPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(added.size <= batchPartitions,
      s"${added.size} files for one append of $batchPartitions partitions")
    val q = Seq("alpha", "beta", "omega", "w11", "w13")
    def scoresOf(p: String) =
      Serving.open(spark, p, id = "doc_id", vecCol = "v").lexicalScores(q)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val oneShot = scoresOf(mkLayout(wideDocs ++ wideBatch.map(r => (r._1, r._2))))
    assert(scoresOf(path) == oneShot)
    IndexMaintenance.compactServing(spark, path, "doc_id", "version")
    assert(!bucketDirs(path).contains(s"bucket=${Lexical.AppendRun}"),
      "compaction left the append run behind")
    val misplaced = spark.read.parquet(postingsDir(path))
      .filter(col("bucket") =!= pmod(xxhash64(col("t")), lit(Lexical.Buckets)))
      .count()
    assert(misplaced == 0, s"$misplaced compacted rows outside their hash bucket")
    assert(scoresOf(path) == oneShot, "compaction changed BM25 scores")
  }

  test("a hybrid read lists only its term buckets and the append run: " +
      "no partition-discovery job, and those directories are the " +
      "postings scan's only roots") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = mkLayout(wideDocs)
    IndexMaintenance.appendToServing(spark, path, upBatch(wideBatch),
      "doc_id", "v", "version", spill = 1, textCol = Some("text"))
    val sc = spark.sparkContext
    val tag = "lexical-read-listing"
    val marker = "lexical-read-listing-end"
    val wide = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty[String])
        if (tags(marker)) done.countDown()
        else if (tags(tag)) e.stageInfos.filter(_.numTasks >= 33)
          .foreach(si => wide.add(s"job ${e.jobId}: ${si.numTasks} tasks"))
      }
    }
    sc.addSparkListener(listener)
    val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
    val (hybrid, lexical) = try {
      sc.addJobTag(tag)
      val h = serving.searchHybrid(terms, qv, nProbe = 1)
      val l = serving.lexicalScores(terms)
      h.collect(); l.collect()
      sc.removeJobTag(tag)
      // listener events arrive in order: once the marker job is seen,
      // every job before it has been seen too
      sc.addJobTag(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.removeJobTag(marker)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (h, l)
    } finally {
      sc.clearJobTags()
      sc.removeSparkListener(listener)
    }
    assert(wide.isEmpty, s"partition-discovery job(s) on the hybrid read: $wide")
    import spark.implicits._
    val want = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(Lexical.Buckets)))
      .collect().map(r => s"bucket=${r.getLong(0)}").toSet +
      s"bucket=${Lexical.AppendRun}"
    for (df <- Seq(hybrid, lexical)) {
      val roots = df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f.relation.location.rootPaths
      }.flatten.filter(_.toString.contains(postingsDir(path)))
      assert(roots.nonEmpty && roots.map(_.getName).toSet ==
        want.intersect(bucketDirs(path).toSet),
        s"postings scan roots ${roots.mkString(", ")}, want $want")
    }
  }

  test("a malformed lexical stamp fails loudly, naming the stamp file " +
      "and its content") {
    val path = mkLayout(baseDocs)
    val stamp = new org.apache.hadoop.fs.Path(s"$path/${Lexical.Dir}/VERSION")
    val fs = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Lexical.versionRange(spark, path).contains((1, 1)))
    for (body <- Seq("", " \n", "1 x", "1 2 3", "1 99999999999")) {
      val out = fs.create(stamp, true)
      out.write(body.getBytes("UTF-8"))
      out.close()
      val e = intercept[IllegalStateException] {
        Lexical.versionRange(spark, path)
      }
      assert(e.getMessage.contains(stamp.toString) &&
        e.getMessage.contains(s"'$body'"), e.getMessage)
      intercept[IllegalStateException] {
        Serving.open(spark, path, id = "doc_id", vecCol = "v")
          .searchHybrid(terms, qv, nProbe = 1)
      }
    }
  }
}
