package graft

import graft.streaming.IndexMaintenance
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IndexMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  test("stream-appended vectors become searchable after recluster") {
    val log = Files.createTempDirectory("ivf-log").toString + "/log"
    val serve = Files.createTempDirectory("ivf-srv").toString + "/serve"

    // batch 1: the base corpus
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), lit(1).as("version"))
    IndexMaintenance.appendBatch(base, log)

    // batch 2: a new vector (id 9999) identical to vec 0 → should be
    // its top-1 neighbor after recluster; plus an update of vec 1
    val v0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val updates = Seq((9999L, v0, 1), (1L, v0, 2))
      .toDF("vec_id", "embedding", "version")
    IndexMaintenance.appendBatch(updates, log)

    val live = IndexMaintenance.liveCorpus(spark, log, "vec_id", "version")
    assert(live.count() == Tables.embeddings(spark, sf).count() + 1)
    // LWW: vec 1 now equals v0
    val v1 = live.filter(col("vec_id") === 1)
      .select("embedding").head().getSeq[Float](0)
    assert(v1 == v0)

    val model = IndexMaintenance.recluster(spark, log, serve,
      "vec_id", "embedding", "version", numLeaves = 8)
    val hits = graft.operators.IvfIndex.search(spark, serve, model,
      v0.map(_.toDouble).toArray, nProbe = 2, k = 3, "vec_id", "embedding")
      .select("vec_id").as[Long].collect()
    // the clone (and the updated vec 1) must surface at the top
    assert(hits.take(3).toSet.intersect(Set(0L, 1L, 9999L)).size == 3,
      s"top-3 was ${hits.toSeq}")

    // lifecycle: the recluster wrote the FULL reopenable index — a
    // serving session that only knows the serve path loads the
    // POST-recluster model (both router levels rebuilt by build())
    // and probes identically to the returned one
    val reopened = graft.operators.IvfIndex.load(spark.newSession(), serve)
    assert(reopened.stats == model.stats)
    assert(reopened.centroids.zip(model.centroids).forall {
      case (a, b) => java.util.Arrays.equals(a, b)
    })
    assert(reopened.router.isEmpty == model.router.isEmpty)
    assert(reopened.topLeaves(v0.map(_.toDouble).toArray, 2) ==
      model.topLeaves(v0.map(_.toDouble).toArray, 2))
  }

  test("appendToServing: upserts are searchable with NO recluster; " +
      "stale versions are never served") {
    val serve = Files.createTempDirectory("ivf-srv2").toString + "/serve"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 8)
    graft.operators.IvfIndex.write(indexed, serve, model)

    val v0 = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0)
    // upsert AFTER the build: a brand-new id cloned from v0, and a
    // REPLACEMENT of vec 1 with v0's vector (its old rows go stale)
    val batch = Seq((99990L, v0, 2), (1L, v0, 2))
      .toDF("vec_id", "v", "version")
    IndexMaintenance.appendToServing(spark, serve, batch,
      "vec_id", "v", "version")

    // a fresh session serves from the path alone: the sidecar model
    // reopens, and a probe for v0 returns BOTH upserted rows at the
    // top with no recluster having run
    val s2 = spark.newSession()
    val m2 = graft.operators.IvfIndex.load(s2, serve)
    val probed = m2.topLeaves(v0.toArray, 2)
    val hits = IndexMaintenance.readServing(s2, serve, "vec_id", "version")
      .filter(col("leaf_id").isin(probed: _*))
      .select(col("vec_id"), col("version"),
        graft.functions.vectors.dotProduct(col("v"),
          typedLit(v0)).as("score"))
      .groupBy("vec_id").agg(max("version").as("version"),
        max("score").as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(5).collect()
    val topIds = hits.map(_.getLong(0)).toSeq
    assert(topIds.take(3).toSet == Set(0L, 1L, 99990L),
      s"expected the clone pair + v0 on top, got $topIds")
    // LWW: vec 1 is served ONLY at version 2 — its version-1 rows are
    // in the layout (append-only) but the delta registry supersedes them
    val v1Rows = IndexMaintenance.readServing(s2, serve, "vec_id", "version")
      .filter(col("vec_id") === 1).select("version").distinct().collect()
    assert(v1Rows.map(_.getInt(0)).toSeq == Seq(2),
      "stale version 1 of an upserted id must never be served")
    // a second overwrite of the same ids (versions strictly rising
    // per id) plus a fresh one: across the whole served frame no id
    // is ever served at two versions
    IndexMaintenance.appendToServing(spark, serve,
      Seq((1L, v0, 3), (99990L, v0, 3), (2L, v0, 2))
        .toDF("vec_id", "v", "version"), "vec_id", "v", "version")
    val served = IndexMaintenance.readServing(s2, serve, "vec_id", "version")
    assert(served.groupBy("vec_id").agg(countDistinct("version").as("nv"))
      .filter(col("nv") > 1).count() == 0,
      "an id is served at more than one version")
    assert(served.filter(col("vec_id").isin(1L, 99990L))
      .select("version").distinct().collect().map(_.getInt(0)).toSeq
      == Seq(3), "the twice-overwritten ids serve only their latest version")
  }

  test("appendToServing: leaf bound is observable — balanced appends " +
      "stay under it, an overstuffed leaf is flagged for rebalance") {
    val serve = Files.createTempDirectory("ivf-srv3").toString + "/serve"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 8)
    graft.operators.IvfIndex.write(indexed, serve, model)
    // threshold = the build's own fullest leaf: nothing exceeds it yet
    val bound = model.stats.maxLeafRows.toInt
    assert(IndexMaintenance.oversizedLeaves(spark, serve, bound)
      .count() == 0, "the build itself must respect the bound")

    // overstuff ONE leaf deterministically: clones of a single vector
    // all route to the same top-2 leaves, so `bound + 1` of them push
    // that leaf past any prior count
    val v0 = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0)
    val clones = (1 to bound + 1)
      .map(i => (500000L + i, v0, 2)).toDF("vec_id", "v", "version")
    IndexMaintenance.appendToServing(spark, serve, clones,
      "vec_id", "v", "version")
    val over = IndexMaintenance.oversizedLeaves(spark, serve, bound)
    assert(over.count() > 0,
      "flooding one leaf must trip the rebalance signal")
    // ...and the signal's remedy: recluster rebuilds a bounded layout
    // (exercised in the recluster test above)
  }

  test("compactServing drops superseded versions and clears the delta; " +
      "serving continues from the compacted layout") {
    val serve = Files.createTempDirectory("ivf-srv5").toString + "/serve"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 8)
    graft.operators.IvfIndex.write(indexed, serve, model)
    val v0 = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0)
    IndexMaintenance.appendToServing(spark, serve,
      Seq((77770L, v0, 2), (1L, v0, 2)).toDF("vec_id", "v", "version"),
      "vec_id", "v", "version")
    val before = IndexMaintenance
      .readServing(spark, serve, "vec_id", "version")
      .select("vec_id", "version").collect().toSet

    IndexMaintenance.compactServing(spark, serve, "vec_id", "version")

    // delta gone: the layout itself IS the resolved state now
    assert(!new java.io.File(serve, "_graft_delta").exists())
    val plain = spark.read.parquet(serve)
    assert(plain.filter(col("vec_id") === 1)
      .select("version").distinct().collect().map(_.getInt(0)).toSeq
      == Seq(2), "stale rows must be physically gone after compaction")
    assert(IndexMaintenance.readServing(spark, serve, "vec_id", "version")
      .select("vec_id", "version").collect().toSet == before,
      "compaction must not change the served state")
    // the sidecar survived the swap: the index still opens and serves,
    // and further appends keep working
    val reopened = graft.operators.IvfIndex.load(spark, serve)
    assert(reopened.centroids.length == model.centroids.length)
    IndexMaintenance.appendToServing(spark, serve,
      Seq((77771L, v0, 3)).toDF("vec_id", "v", "version"),
      "vec_id", "v", "version")
    assert(IndexMaintenance.readServing(spark, serve, "vec_id", "version")
      .filter(col("vec_id") === 77771L).count() > 0)
  }

  test("removeFromServing: tombstones hide ids at read, a higher-version " +
      "upsert resurrects, a version tie deletes, compaction removes " +
      "physically") {
    val serve = Files.createTempDirectory("ivf-del").toString + "/serve"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 8)
    graft.operators.IvfIndex.write(indexed, serve, model)
    val v0 = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0)

    // delete ids 0..4 (version 2): gone from the served view, data
    // files untouched
    val filesBefore = spark.read.parquet(serve).count()
    IndexMaintenance.removeFromServing(spark, serve,
      Seq((0L, 2), (1L, 2), (2L, 2), (3L, 2), (4L, 2))
        .toDF("vec_id", "version"), "vec_id", "version")
    val served = IndexMaintenance.readServing(spark, serve,
      "vec_id", "version")
    assert(served.filter(col("vec_id") < 5).count() == 0,
      "tombstoned ids must not be served")
    assert(spark.read.parquet(serve).count() == filesBefore,
      "a delete must not rewrite data files")

    // resurrection: id 0 re-upserted at version 3 serves again (the
    // new row only); id 1 upserted at version 2 TIES the tombstone —
    // the tombstone wins deterministically
    IndexMaintenance.appendToServing(spark, serve,
      Seq((0L, v0, 3), (1L, v0, 2)).toDF("vec_id", "v", "version"),
      "vec_id", "v", "version")
    val after = IndexMaintenance.readServing(spark, serve,
      "vec_id", "version")
    assert(after.filter(col("vec_id") === 0)
      .select("version").distinct().collect().map(_.getInt(0)).toSeq
      == Seq(3), "a higher-version upsert must resurrect a deleted id")
    assert(after.filter(col("vec_id") === 1).count() == 0,
      "on a version tie the tombstone must win")

    // the resident handle serves the same resolved state
    val handle = graft.operators.Serving.open(spark, serve,
      id = "vec_id", vecCol = "v")
    assert(handle.data.filter(col("vec_id").isin(1L, 2L, 3L, 4L))
      .count() == 0, "Serving.open must resolve tombstones")

    // compaction materializes the deletes: rows physically gone,
    // registry cleared, serving continues
    val beforeCompact = after.select("vec_id", "version")
      .collect().toSet
    IndexMaintenance.compactServing(spark, serve, "vec_id", "version")
    assert(!new java.io.File(serve, "_graft_delta").exists())
    val plain = spark.read.parquet(serve)
    assert(plain.filter(col("vec_id").isin(1L, 2L, 3L, 4L)).count() == 0,
      "deleted rows must be physically gone after compaction")
    assert(IndexMaintenance.readServing(spark, serve, "vec_id", "version")
      .select("vec_id", "version").collect().toSet == beforeCompact,
      "compaction must not change the served state")
  }

  test("a stream of MIXED upserts and deletes maintains the served " +
      "set: foreachBatch routes tombstones at streaming rates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 8)
    val dir = Files.createTempDirectory("ivf-streamdel").toString + "/idx"
    graft.operators.IvfIndex.write(indexed, dir, model)
    val v0 = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0)

    val stream = MemoryStream[(Long, Seq[Double], Long, Boolean)]
    val sq = stream.toDF.toDF("vec_id", "v", "version", "tombstone")
      .writeStream.outputMode("append")
      .option("checkpointLocation", dir + ".ckpt")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
        val ups = batch.filter(!col("tombstone")).drop("tombstone")
        val dels = batch.filter(col("tombstone"))
          .select("vec_id", "version")
        if (!ups.isEmpty)
          IndexMaintenance.appendToServing(spark, dir, ups,
            "vec_id", "v", "version")
        if (!dels.isEmpty)
          IndexMaintenance.removeFromServing(spark, dir, dels,
            "vec_id", "version")
      }
      .start()
    def send(rows: (Long, Seq[Double], Long, Boolean)*): Unit = {
      stream.addData(rows: _*); sq.processAllAvailable()
    }
    // b1: ten new ids; b2: delete five of them plus five base ids;
    // b3: resurrect one deleted id at a higher version
    send((0 until 10).map(j =>
      (100000L + j, v0.map(_ * (1 + 0.01 * j)), 2L, false)): _*)
    send(((0 until 5).map(j => (100000L + j, Seq.empty[Double], 3L, true))
      ++ (0 until 5).map(j => (j.toLong, Seq.empty[Double], 3L, true))): _*)
    send((100000L, v0.map(_ * 2), 4L, false))
    sq.stop()

    val served = graft.operators.Serving.open(spark, dir,
      id = "vec_id", vecCol = "v").data
    assert(served.filter(col("vec_id").isin(
      100001L, 100002L, 100003L, 100004L, 1L, 2L, 3L, 4L)).count() == 0,
      "stream-deleted ids must not be served")
    assert(served.filter(col("vec_id") === 100000L)
      .select("version").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(4L), "the resurrected id must serve only its v4 row")
    assert(served.filter(col("vec_id") === 0L).count() == 0,
      "base id 0 was deleted in b2")
    assert(served.filter(col("vec_id").isin(100005L, 100009L))
      .select("vec_id").distinct().count() == 2,
      "untouched streamed upserts keep serving")
  }

  test("liveCorpus drops log-tombstoned ids so a recluster does not " +
      "resurrect them") {
    val log = Files.createTempDirectory("ivf-dellog").toString + "/log"
    val base = Tables.embeddings(spark, sf).limit(200).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    IndexMaintenance.appendBatch(base.toDF(), log)
    // tombstone rows ride the SAME log: null vector, higher version
    IndexMaintenance.appendBatch(
      base.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), lit(null).cast("array<double>").as("v"),
          lit(2L).as("version"), lit(true).as("tombstone")),
      log)
    val live = IndexMaintenance.liveCorpus(spark, log, "vec_id", "version")
    assert(live.filter(col("vec_id") % 7 === 0).count() == 0,
      "log tombstones must drop ids from the recluster source")
    assert(live.count() == base.filter(col("vec_id") % 7 =!= 0).count())
    assert(!live.columns.contains("tombstone"),
      "liveCorpus must return the data schema")
  }

  test("appendCodedToServing: a fresh session encodes upserts with the " +
      "reloaded codebook; both sidecars reopen from the path alone") {
    import graft.operators.{IvfIndex, ProductQuantizer}
    val serve = Files.createTempDirectory("ivf-srvpq").toString + "/serve"
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val pqIds = (0 until 16).map(c => c * 31L + 5L)
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", pqIds)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val coded = base
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v")
    IvfIndex.write(coded, serve, model)
    ProductQuantizer.writeCodebook(spark, serve, cb)

    // the codebook sidecar is invisible to data reads
    assert(spark.read.parquet(serve).columns.sorted.toSeq ==
      Seq("leaf_id", "pq_code", "vec_id", "version"))

    // FRESH session: append through the coded path — model and
    // codebook must come from the sidecars, not this session's state
    val s2 = spark.newSession()
    val q = base.filter(col("vec_id") === 3)
      .select("v").head().getSeq[Double](0)
    val batch = Seq((88880L, q.map(_ * 2), 1)).toDF("vec_id", "v", "version")
    IndexMaintenance.appendCodedToServing(s2, serve, batch,
      "vec_id", "v", "version")

    // the appended code equals what the build-time codebook encodes
    val expectCode = Seq((0L, q.map(_ * 2))).toDF("vec_id", "v")
      .select(ProductQuantizer.encodeExpr(col("v"), cb).as("c"))
      .head().getLong(0)
    val gotRow = s2.read.parquet(serve).filter(col("vec_id") === 88880L)
      .select("pq_code", "leaf_id").head()
    assert(gotRow.getLong(0) == expectCode,
      "append must encode with the PERSISTED codebook")
    // and the leaf is the model's own top-1 for that vector
    val loaded = IvfIndex.load(s2, serve)
    assert(gotRow.getInt(1) == loaded.topLeaves(q.map(_ * 2).toArray, 1).head)

    // ADC search over the served codes finds the upsert
    val cb2 = ProductQuantizer.loadCodebook(s2, serve)
    assert(cb2.zip(cb).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    val hits = ProductQuantizer.searchCodes(
      IndexMaintenance.readServing(s2, serve, "vec_id", "version"),
      "vec_id", cb2, q.toArray, 1000)
      .select("vec_id").as[Long].collect().toSeq
    assert(hits.contains(88880L), "upserted coded vector must be servable")

    // a data-only path (no _graft_pq) fails loudly
    val bare = Files.createTempDirectory("ivf-srvpq2").toString + "/bare"
    IvfIndex.write(coded, bare, model)
    val ex = intercept[IllegalArgumentException] {
      IndexMaintenance.appendCodedToServing(spark, bare, batch,
        "vec_id", "v", "version")
    }
    assert(ex.getMessage.contains("codebook sidecar"))

    // compaction of a CODED layout: the codebook sidecar must travel
    // with the codes through the rename swap, and the coded serving
    // path must keep working afterwards
    IndexMaintenance.compactServing(s2, serve, "vec_id", "version")
    assert(!new java.io.File(serve, "_graft_delta").exists())
    val cbAfter = ProductQuantizer.loadCodebook(s2, serve)
    assert(cbAfter.zip(cb).forall {
      case (a, b) => java.util.Arrays.equals(a, b)
    }, "codebook must survive compaction")
    IndexMaintenance.appendCodedToServing(s2, serve,
      Seq((88881L, q.map(_ * 3), 1)).toDF("vec_id", "v", "version"),
      "vec_id", "v", "version")
    assert(IndexMaintenance.readServing(s2, serve, "vec_id", "version")
      .filter(col("vec_id") === 88881L).count() == 1)
  }

  test("rebalanceOverflow splits ONLY the overflowed leaves in place: " +
      "bound restored, untouched partitions byte-identical, sidecar " +
      "routes a fresh session into the split") {
    val serve = Files.createTempDirectory("ivf-srv5").toString + "/serve"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 8)
    graft.operators.IvfIndex.write(indexed, serve, model)
    val lBefore = model.centroids.length

    // append NATURALLY-SPREAD new vectors (jittered copies of real
    // corpus rows under fresh ids): they scatter across the existing
    // leaves like organic growth, so the overflowed leaves carry
    // splittable structure — a single identical-vector pile is
    // k-means-unsplittable by nature and stays flagged for recluster,
    // which is the documented contract
    val donors = base.filter(col("vec_id") < 60)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val appends = Seq.tabulate(60) { i =>
      (10000L + i,
        donors(i.toLong).zipWithIndex.map { case (x, j) =>
          x + 0.01 * (((i + j) % 3) - 1)
        },
        1)
    }.toDF("vec_id", "v", "version")
    IndexMaintenance.appendToServing(spark, serve, appends,
      "vec_id", "v", "version")

    // pick the bound BETWEEN the smallest and largest leaf so at
    // least one leaf overflows and at least one stays untouched (the
    // untouched-partition witness) — a fixed number here would couple
    // the spec to the fit's exact leaf-size distribution
    val sizes = spark.read.parquet(serve).groupBy("leaf_id").count()
      .collect().map(_.getLong(1))
    assert(sizes.min < sizes.max, "need uneven leaves for this spec")
    val bound = ((sizes.min + sizes.max) / 2).toInt
    val overBefore = IndexMaintenance
      .oversizedLeaves(spark, serve, bound)
      .collect().map(_.getInt(0)).toSet
    assert(overBefore.nonEmpty, "the clone pile must overflow a leaf")
    val rowsBefore = spark.read.parquet(serve).count()
    val idsBefore = spark.read.parquet(serve)
      .select("vec_id").distinct().count()
    // snapshot an UNTOUCHED leaf's files (name, length, mtime)
    val untouchedLeaf = model.centroids.indices
      .filterNot(overBefore.contains).head
    def leafFiles(l: Int): Seq[(String, Long, Long)] = {
      val dir = new java.io.File(serve.stripPrefix("file:"),
        s"leaf_id=$l")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
    }
    val filesBefore = leafFiles(untouchedLeaf)
    assert(filesBefore.nonEmpty)

    val (nSplit, maxAfter) = IndexMaintenance.rebalanceOverflow(
      spark, serve, "vec_id", "v", maxLeafSize = bound)
    assert(nSplit >= overBefore.size,
      s"every overflowed leaf splits at least once, got $nSplit for " +
        s"${overBefore.size}")
    assert(maxAfter <= bound, s"max leaf still $maxAfter after rebalance")
    assert(IndexMaintenance.oversizedLeaves(spark, serve, bound).count() == 0)
    // no data motion outside the splits: rows and coverage unchanged,
    // the untouched leaf's files byte-for-byte identical
    assert(spark.read.parquet(serve).count() == rowsBefore)
    assert(spark.read.parquet(serve)
      .select("vec_id").distinct().count() == idsBefore)
    assert(leafFiles(untouchedLeaf) == filesBefore)

    // the sidecar reopens to the SPLIT model: more leaves, refreshed
    // stats, and a fresh session's probe for vec 0 reaches both the
    // original and its re-homed near-copy (id 10000)
    val s2 = spark.newSession()
    val m2 = graft.operators.IvfIndex.load(s2, serve)
    assert(m2.centroids.length > lBefore)
    assert(m2.stats.maxLeafRows == maxAfter)
    val hits = graft.operators.IvfIndex.search(s2, serve, m2,
      donors(0L).toArray, nProbe = 4, k = 5, "vec_id", "v")
      .select("vec_id").collect().map(_.getLong(0))
    assert(hits.contains(0L), s"vec 0 must remain findable, got ${hits.toSeq}")
    assert(hits.exists(_ >= 10000L),
      s"an appended-then-rebalanced vector must be findable, " +
        s"got ${hits.toSeq}")

    // idempotent when nothing overflows
    val (zero, _) = IndexMaintenance.rebalanceOverflow(
      spark, serve, "vec_id", "v", maxLeafSize = bound)
    assert(zero == 0)
  }

  test("maintain: one policy sweep rebalances overflow, compacts a " +
      "swollen registry, and is idempotent on a healthy layout") {
    import IndexMaintenance.{MaintenancePolicy, maintain}
    val dir = Files.createTempDirectory("ivf-maint").toString + "/idx"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 8)
    graft.operators.IvfIndex.write(indexed, dir, model)
    val v0 = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0)
    val maxLeaf = spark.read.parquet(dir)
      .groupBy("leaf_id").count().agg(max("count")).head().getLong(0)

    // overstuff ONE region: 150 jittered copies of v0, spill=1
    val stuff = spark.range(150).select(
      (col("id") + 500000L).as("vec_id"),
      transform(typedLit(v0), x => x * 1.0001).as("v"),
      lit(2L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, stuff,
      "vec_id", "v", "version", spill = 1)
    val bound = (maxLeaf + 60).toInt
    val policy = MaintenancePolicy(maxLeafSize = bound,
      maxDeltaRows = 1000L)
    val r1 = maintain(spark, dir, "vec_id", "v", "version", policy)
    assert(r1.splits > 0, s"sweep must split the overstuffed leaf: $r1")
    assert(!r1.compacted && r1.deltaRows == 150L)
    assert(IndexMaintenance.oversizedLeaves(spark, dir, bound)
      .count() == 0, "no leaf may remain past the bound")

    // swell the registry past the policy: deletes are registry rows too
    IndexMaintenance.removeFromServing(spark, dir,
      spark.range(100).select((col("id") + 500000L).as("vec_id"),
        lit(3L).as("version")), "vec_id", "version")
    val policy2 = policy.copy(maxDeltaRows = 200L)
    val r2 = maintain(spark, dir, "vec_id", "v", "version", policy2)
    assert(r2.compacted && r2.deltaRows == 250L, s"sweep must compact: $r2")
    assert(!new java.io.File(dir, "_graft_delta").exists())
    assert(spark.read.parquet(dir)
      .filter(col("vec_id") === 500000L).count() == 0,
      "compaction must materialize the deletes")

    // healthy layout: the sweep is a no-op and says so
    val r3 = maintain(spark, dir, "vec_id", "v", "version", policy2)
    assert(r3 == IndexMaintenance.MaintenanceReport(0, 0L, false, 0L, 0),
      s"sweep over a healthy layout must do nothing: $r3")
    // and the layout still serves
    assert(IndexMaintenance.readServing(spark, dir, "vec_id", "version")
      .filter(col("vec_id") === 500100L).count() > 0)
  }

  test("maintainRadii: a recluster wipes the radii sidecar; the next " +
      "policy sweep rebuilds it and certified search works again") {
    import IndexMaintenance.{MaintenancePolicy, maintain}
    import graft.operators.{CertifiedSearch, IvfIndex, Serving}
    val root = Files.createTempDirectory("ivf-radii").toString
    val logDir = root + "/log"
    val dir = root + "/idx"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    base.write.parquet(logDir)
    val (indexed, model) = IvfIndex.build(base, "vec_id", "v", 8)
    IvfIndex.write(indexed, dir, model)
    CertifiedSearch.buildRadii(spark, dir, "v")
    val q = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0).toArray
    val exact = base.select(col("vec_id"),
        graft.functions.vectors.dotProduct(col("v"), typedLit(q.toSeq))
          .as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    def certified(): Seq[Long] =
      Serving.open(spark, dir, id = "vec_id", vecCol = "v")
        .searchCertified(q, 5)._1.collect().map(_.getLong(0)).toSeq
    assert(certified() == exact, "setup: certified == brute force")

    // a recluster overwrites the layout dir — the sidecar is gone and
    // certified search fails LOUDLY (never silently approximate)
    IndexMaintenance.recluster(spark, logDir, dir, "vec_id", "v",
      "version", 8)
    assert(!CertifiedSearch.radiiExist(spark, dir))
    intercept[IllegalArgumentException] { certified() }

    // the opted-in sweep notices and rebuilds; certificates are valid
    // for the NEW geometry
    val policy = MaintenancePolicy(maxLeafSize = 1000000,
      maintainRadii = true)
    val r = maintain(spark, dir, "vec_id", "v", "version", policy)
    assert(r.radiiRebuilt, s"sweep must rebuild the wiped sidecar: $r")
    assert(CertifiedSearch.radiiExist(spark, dir))
    assert(certified() == exact,
      "certified search over the reclustered geometry must return " +
        "the exact top-k again")

    // idempotent: a healthy sidecar is not rebuilt
    val r2 = maintain(spark, dir, "vec_id", "v", "version", policy)
    assert(!r2.radiiRebuilt, s"healthy sidecar must not rebuild: $r2")
  }

  test("appendToServing rejects a batch whose schema differs from the layout") {
    val serve = Files.createTempDirectory("ivf-srv4").toString + "/serve"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 4)
    graft.operators.IvfIndex.write(indexed, serve, model)
    val bad = base.withColumn("extra", lit(1))
    val ex = intercept[IllegalArgumentException] {
      IndexMaintenance.appendToServing(spark, serve, bad,
        "vec_id", "v", "version")
    }
    assert(ex.getMessage.contains("do not match the serving layout"))
  }

  /** Every message on `e`'s cause chain: an in-plan `raise_error`
    * reaches the caller wrapped in the failed job's exception. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  test("null ids fail loudly: appendToServing and removeFromServing " +
      "raise in-plan before anything lands in the layout or registry") {
    val serve = Files.createTempDirectory("ivf-srvnull").toString + "/serve"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 4)
    graft.operators.IvfIndex.write(indexed, serve, model)
    val v0 = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0)
    val rows = IndexMaintenance.readServing(spark, serve, "vec_id",
      "version").count()
    val up = Seq((Option(99991L), v0, 2), (Option.empty[Long], v0, 2))
      .toDF("vec_id", "v", "version")
    val eu = intercept[Exception] {
      IndexMaintenance.appendToServing(spark, serve, up,
        "vec_id", "v", "version")
    }
    assert(messages(eu).contains("appendToServing: null id in column " +
      "'vec_id'"), messages(eu))
    val del = Seq((Option.empty[Long], 3)).toDF("vec_id", "version")
    val ed = intercept[Exception] {
      IndexMaintenance.removeFromServing(spark, serve, del,
        "vec_id", "version")
    }
    assert(messages(ed).contains("removeFromServing: null id"), messages(ed))
    // nothing landed: no registry, no stray data file, same served rows
    assert(!new java.io.File(serve, "_graft_delta").exists())
    assert(graft.operators.ServingManifest.verify(spark, serve) == ((0L, 0L)))
    assert(IndexMaintenance.readServing(spark, serve, "vec_id", "version")
      .count() == rows)
  }

  test("null ids fail loudly on the coded tiers: appendCodedToServing " +
      "and appendSqToServing raise in-plan") {
    import graft.operators.{IvfIndex, ProductQuantizer}
    import graft.functions.quantize
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding",
      (0 until 16).map(c => c * 31L + 5L))
    val (indexed, model) = IvfIndex.build(base, "vec_id", "v", 4)
    val pq = Files.createTempDirectory("ivf-pqnull").toString + "/serve"
    IvfIndex.write(indexed.withColumn("pq_code",
      ProductQuantizer.encodeExpr(col("v"), cb)).drop("v"), pq, model)
    ProductQuantizer.writeCodebook(spark, pq, cb)
    val sq = Files.createTempDirectory("ivf-sqnull").toString + "/serve"
    IvfIndex.write(indexed.withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v"), sq, model)
    val v0 = base.filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0)
    val up = Seq((Option.empty[Long], v0, 2)).toDF("vec_id", "v", "version")
    val ep = intercept[Exception] {
      IndexMaintenance.appendCodedToServing(spark, pq, up,
        "vec_id", "v", "version")
    }
    assert(messages(ep).contains("appendCodedToServing: null id in " +
      "column 'vec_id'"), messages(ep))
    val es = intercept[Exception] {
      IndexMaintenance.appendSqToServing(spark, sq, up,
        "vec_id", "v", "version")
    }
    assert(messages(es).contains("appendSqToServing: null id"), messages(es))
    for (dir <- Seq(pq, sq)) {
      assert(!new java.io.File(dir, "_graft_delta").exists())
      assert(graft.operators.ServingManifest.verify(spark, dir) == ((0L, 0L)))
    }
  }

  test("a null id already in the delta registry fails every open with " +
      "a labelled error naming the registry") {
    val serve = Files.createTempDirectory("ivf-regnull").toString + "/serve"
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val (indexed, model) = graft.operators.IvfIndex.build(
      base, "vec_id", "v", 4)
    graft.operators.IvfIndex.write(indexed, serve, model)
    // a registry row written around the append path's in-plan check
    Seq((Option(5L), 2L, false), (Option.empty[Long], 2L, false))
      .toDF("vec_id", "version", "tombstone")
      .write.mode("append").parquet(serve + "/_graft_delta")
    val e = intercept[IllegalStateException] {
      IndexMaintenance.readServing(spark, serve, "vec_id", "version")
    }
    assert(e.getMessage.contains(serve + "/_graft_delta") &&
      e.getMessage.contains("null id in column 'vec_id'"), e.getMessage)
  }

  test("the registry id type comes from the files' footers: an empty " +
      "string-id registry types as string, and an unsupported physical " +
      "type fails naming the column and the type") {
    import org.apache.spark.sql.types._
    val empty = Files.createTempDirectory("ivf-regtype").toString + "/serve"
    val schema = StructType(Seq(StructField("doc_key", StringType),
      StructField("version", LongType), StructField("tombstone", BooleanType)))
    spark.createDataFrame(java.util.Collections.emptyList[
        org.apache.spark.sql.Row](), schema)
      .write.parquet(empty + "/_graft_delta")
    val w = IndexMaintenance.deltaWinners(spark, empty, Some("doc_key")).get
    assert(w.schema("__id").dataType == StringType)
    assert(w.collect().isEmpty)
    val odd = Files.createTempDirectory("ivf-regtype").toString + "/serve"
    Seq((1.5, 2L, false)).toDF("doc_key", "version", "tombstone")
      .write.parquet(odd + "/_graft_delta")
    val e = intercept[IllegalStateException] {
      IndexMaintenance.deltaWinners(spark, odd, Some("doc_key"))
    }
    assert(e.getMessage.contains("'doc_key'") &&
      e.getMessage.contains("DOUBLE") &&
      e.getMessage.contains(odd + "/_graft_delta"), e.getMessage)
  }
}
