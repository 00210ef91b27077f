package graft

import graft.operators.{IvfIndex, ServingManifest}
import graft.streaming.IndexMaintenance
import org.apache.spark.sql.functions._

/** The file manifest as the serving open path: every writer keeps it
  * consistent with the layout, a manifest-backed open sees exactly
  * the listed rows with pruning intact, and drift fails loudly in
  * both directions.
  */
class ServingManifestSpec extends SparkTestBase {

  private def freshServe(tag: String): (String, IvfIndex.Model) = {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_manifest_$tag").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    (dir, model)
  }

  test("write() builds a manifest that matches the actual listing") {
    val (dir, _) = freshServe("build")
    assert(ServingManifest.exists(spark, dir))
    assert(ServingManifest.verify(spark, dir) == ((0L, 0L)))
  }

  test("manifest open sees the same rows as a listing open, pruned alike") {
    val (dir, model) = freshServe("open")
    val viaManifest = ServingManifest.open(spark, dir).get
    val viaListing = spark.read.parquet(dir)
    assert(viaManifest.columns.sorted.sameElements(viaListing.columns.sorted))
    assert(viaManifest.count() == viaListing.count())

    // partition pruning still reaches the scan through the explicit
    // file set: an In-list on leaf_id lands in partitionFilters, not
    // a post-scan filter
    val pruned = viaManifest.filter(col("leaf_id").isin(0, 1))
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty,
      s"leaf In-list did not prune: ${scan.partitionFilters}")
    assert(pruned.count() ==
      spark.read.parquet(dir).filter(col("leaf_id").isin(0, 1)).count())
    assert(model.centroids.length == 8)

    // range predicates prune through the manifest's listFiles too —
    // the bound-reference evaluation is not In-list-specific
    val ranged = viaManifest.filter(col("leaf_id") >= 3 &&
      col("leaf_id") < 6)
    val rScan = ranged.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(rScan.partitionFilters.nonEmpty)
    assert(ranged.count() == spark.read.parquet(dir)
      .filter(col("leaf_id") >= 3 && col("leaf_id") < 6).count())
  }

  test("appendToServing reconciles the touched leaves") {
    val (dir, _) = freshServe("append")
    val batch = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 37 === 0)
      .select((col("vec_id") + 500000).as("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, batch,
      "vec_id", "v", "version")
    assert(ServingManifest.verify(spark, dir) == ((0L, 0L)),
      "appended files must be in the manifest")
    val got = ServingManifest.open(spark, dir).get
      .filter(col("vec_id") >= 500000).select("vec_id").distinct().count()
    assert(got == batch.count(),
      "appended rows must be visible through the manifest open")
  }

  test("rebalanceOverflow keeps the manifest consistent") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    // tiny leaf count → at least one leaf far over a tight bound
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "v", 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_reb").toString + "/idx"
    IvfIndex.write(indexed, dir, model)
    // an eighth of the stored rows: with 4 leaves the largest leaf
    // holds at least a quarter, so overflow is guaranteed
    val bound = (indexed.count() / 8).toInt
    val (splits, _) = IndexMaintenance.rebalanceOverflow(
      spark, dir, "vec_id", "v", bound)
    assert(splits > 0, "the tight bound must force at least one split")
    assert(ServingManifest.verify(spark, dir) == ((0L, 0L)),
      "rebalanced directories must be re-reflected in the manifest")
  }

  test("changesBetween: id-level feed, reversed interval, spill " +
      "dedup, loud unknown version") {
    val (dir, _) = freshServe("cdc")
    val batch = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 37 === 0)
      .select((col("vec_id") + 500000).as("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    // spill=2: every appended id lands in TWO leaves — the feed must
    // still report each id once (id-level, not file/row-level)
    IndexMaintenance.appendToServing(spark, dir, batch,
      "vec_id", "v", "version", spill = 2)
    val expectIds = batch.select("vec_id")
      .collect().map(_.getLong(0)).toSet

    val fwd = ServingManifest.changesBetween(spark, dir, "vec_id", 1, 2)
      .collect()
    assert(fwd.forall(_.getString(1) == "insert"))
    assert(fwd.map(_.getLong(0)).toSet == expectIds)
    assert(fwd.length == expectIds.size,
      "a spill copy in a second leaf must not duplicate the feed row")

    // the feed is directional: the reversed interval reports the same
    // ids as deletes
    val rev = ServingManifest.changesBetween(spark, dir, "vec_id", 2, 1)
      .collect()
    assert(rev.forall(_.getString(1) == "delete"))
    assert(rev.map(_.getLong(0)).toSet == expectIds)

    assert(ServingManifest.changesBetween(spark, dir, "vec_id", 1, 1).isEmpty)
    assert(ServingManifest.changesBetween(spark, dir, "vec_id", 2, 2).isEmpty)

    // a second append composes: (2→3) sees only the new batch, (1→3)
    // the union
    val batch2 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 41 === 1)
      .select((col("vec_id") + 800000).as("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(3L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, batch2,
      "vec_id", "v", "version")
    val expect2 = batch2.select("vec_id").collect().map(_.getLong(0)).toSet
    val mid = ServingManifest.changesBetween(spark, dir, "vec_id", 2, 3)
      .collect()
    assert(mid.map(_.getLong(0)).toSet == expect2)
    val full = ServingManifest.changesBetween(spark, dir, "vec_id", 1, 3)
      .collect()
    assert(full.map(_.getLong(0)).toSet == expectIds ++ expect2)

    // an unknown version fails loudly
    val boom = intercept[RuntimeException] {
      ServingManifest.changesBetween(spark, dir, "vec_id", 1, 999)
    }
    assert(boom.getMessage.contains("not in the snapshot log"))
  }

  test("compactServing carries the manifest across the swap") {
    val (dir, _) = freshServe("compact")
    val batch = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 53 === 0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(9L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, batch,
      "vec_id", "v", "version")
    IndexMaintenance.compactServing(spark, dir, "vec_id", "version")
    assert(ServingManifest.verify(spark, dir) == ((0L, 0L)))
    // superseded copies are gone; the manifest open serves the winner
    val winners = ServingManifest.open(spark, dir).get
      .filter(col("vec_id") % 53 === 0)
      .groupBy("vec_id").agg(countDistinct("version").as("nv"))
      .filter(col("nv") =!= 1)
    assert(winners.count() == 0)
  }

  test("drift is detected in both directions and a stale read is loud") {
    val (dir, _) = freshServe("drift")
    // unlisted file on disk (the silent-invisibility direction)
    val leafDir = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("leaf_id=")).head
    val dataFile = leafDir.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).head
    val copy = new java.io.File(leafDir, "part-drift.parquet")
    java.nio.file.Files.copy(dataFile.toPath, copy.toPath)
    assert(ServingManifest.verify(spark, dir)._2 == 1L,
      "an unlisted on-disk file must count as drift")
    assert(copy.delete())

    // listed-but-deleted file (the loud direction): resolution of the
    // explicit file set fails immediately — even before a scan runs
    assert(dataFile.delete())
    intercept[Exception] { ServingManifest.open(spark, dir).get.count() }
  }

  test("snapshot log: versions, time travel, and O(delta) versions") {
    val (dir, _) = freshServe("snap")
    assert(ServingManifest.versions(spark, dir) == Seq(1),
      "the build installs snapshot v1")
    val builtRows = ServingManifest.open(spark, dir).get.count()

    val b1 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 41 === 2)
      .select((col("vec_id") + 500000).as("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, b1, "vec_id", "v", "version")
    val b2 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 47 === 5)
      .select((col("vec_id") + 700000).as("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(3L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, b2, "vec_id", "v", "version")
    assert(ServingManifest.versions(spark, dir) == Seq(1, 2, 3),
      "every install bumps the version by one")

    // v2 is a DELTA, not a full copy: only the appended files, all
    // action=add (an append removes nothing), far smaller than the
    // live file-set — the O(delta) log property
    val v2 = spark.read.parquet(ServingManifest.logDir(dir) + "/v=2")
    assert(v2.columns.contains("action"), "steady-state versions are deltas")
    val acts = v2.select("action").distinct().collect().map(_.getString(0))
    assert(acts.sameElements(Array("add")),
      s"an append logs only adds, got ${acts.mkString(",")}")
    val liveFileCount = ServingManifest.open(spark, dir).get
      .inputFiles.length
    assert(v2.count() < liveFileCount,
      "a delta version must be smaller than the live file-set")
    // the manifest DIR is the latest checkpoint (v1 here): steady-
    // state appends must not rewrite it — O(delta) per append means
    // the O(manifest) copy happens only every CheckpointInterval-th
    // version
    val mver = spark.read.parquet(ServingManifest.manifestDir(dir))
      .select("mver").head().getInt(0)
    assert(mver == 1,
      s"an append must NOT rewrite the manifest checkpoint, mver=$mver")

    // time travel: v1 = the build alone, v2 sees b1 but not b2,
    // v3 = the live manifest
    val at1 = ServingManifest.openAt(spark, dir, 1).get
    assert(at1.count() == builtRows,
      "openAt(1) must pin the pre-append row count")
    assert(at1.filter(col("vec_id") >= 500000).count() == 0,
      "openAt(1) must not see either append")
    val at2 = ServingManifest.openAt(spark, dir, 2).get
    assert(at2.filter(col("vec_id") >= 500000 && col("vec_id") < 700000)
      .select("vec_id").distinct().count() == b1.count(),
      "openAt(2) must see the first append in full")
    assert(at2.filter(col("vec_id") >= 700000).count() == 0,
      "openAt(2) must not see the second append")
    assert(ServingManifest.openAt(spark, dir, 3).get.count() ==
      ServingManifest.open(spark, dir).get.count(),
      "the latest snapshot is the live manifest")
    assert(ServingManifest.openAt(spark, dir, 99).isEmpty,
      "an unlogged version opens as None")
  }

  test("snapshot log: checkpoint interval, old-format fold, truncation is loud") {
    val (dir, _) = freshServe("ckpt")
    val b1 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 41 === 2)
      .select((col("vec_id") + 500000).as("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, b1, "vec_id", "v", "version")
    val live = ServingManifest.open(spark, dir).get.count()
    // no-op reconciles still version the log (empty deltas) — walk to
    // the forced checkpoint at v = CheckpointInterval
    (3 to ServingManifest.CheckpointInterval).foreach { _ =>
      ServingManifest.reconcile(spark, dir, Seq(0))
    }
    val vs = ServingManifest.versions(spark, dir)
    assert(vs.last == ServingManifest.CheckpointInterval)
    val names = new java.io.File(ServingManifest.logDir(dir)).list().toSeq
    assert(names.contains(s"v=${ServingManifest.CheckpointInterval}.full"),
      s"version ${ServingManifest.CheckpointInterval} must be a forced " +
        s"checkpoint, log holds ${names.sorted.mkString(",")}")
    assert(ServingManifest
      .openAt(spark, dir, ServingManifest.CheckpointInterval).get
      .count() == live)
    // a mid-log version folds deltas onto the v1 checkpoint
    assert(ServingManifest.openAt(spark, dir, 10).get.count() == live)

    // old-format compatibility: a full snapshot named plain `v=N`
    // (the pre-delta log format) is detected by schema and folds as
    // a checkpoint
    val logD = ServingManifest.logDir(dir)
    assert(new java.io.File(logD + "/v=1.full")
      .renameTo(new java.io.File(logD + "/v=1")))
    assert(ServingManifest.openAt(spark, dir, 2).get.count() == live,
      "an old-format full snapshot must fold as a checkpoint")

    // truncated log (checkpoint removed): reconstruction below the
    // remaining checkpoint fails LOUDLY, never serves a partial set
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete(); ()
    }
    rmr(new java.io.File(logD + "/v=1"))
    intercept[IllegalArgumentException] {
      ServingManifest.openAt(spark, dir, 10)
    }
    // versions at or above the surviving checkpoint stay readable
    assert(ServingManifest
      .openAt(spark, dir, ServingManifest.CheckpointInterval).get
      .count() == live)
  }

  test("snapshot log: compact starts a fresh log; a deleted file is loud") {
    val (dir, _) = freshServe("snapcompact")
    val b1 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 53 === 0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(9L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, b1, "vec_id", "v", "version")
    assert(ServingManifest.versions(spark, dir) == Seq(1, 2))
    IndexMaintenance.compactServing(spark, dir, "vec_id", "version")
    // the rewrite replaced the data files: the old log is gone with
    // them, the compacted layout starts at v1
    assert(ServingManifest.versions(spark, dir) == Seq(1),
      "a rewriting mutation must start a fresh snapshot log")
    assert(ServingManifest.openAt(spark, dir, 1).get.count() ==
      ServingManifest.open(spark, dir).get.count())

    // a snapshot naming a deleted data file fails its scan loudly
    val leafDir = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("leaf_id=")).head
    val dataFile = leafDir.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).head
    assert(dataFile.delete())
    intercept[Exception] {
      ServingManifest.openAt(spark, dir, 1).get.count()
    }
  }

  test("snapshot log retention: truncate drops only safely-dead versions") {
    import spark.implicits._
    // a synthetic layout — retention touches only the LOG, so no
    // index build is needed: one real leaf, a manifest naming it,
    // a v=1 checkpoint, then version churn via no-op reconciles
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_trunc").toString + "/idx"
    spark.range(4).select(col("id").as("vec_id"))
      .coalesce(1).write.parquet(dir + "/leaf_id=0")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(
        new org.apache.hadoop.fs.Path(dir + "/leaf_id=0"))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(f => ("leaf_id=0/" + f.getPath.getName, 0, f.getLen,
        f.getModificationTime)).toSeq
    entries.toDF("file", "leaf_id", "bytes", "mtime")
      .coalesce(1).write.parquet(ServingManifest.manifestDir(dir))
    spark.read.parquet(ServingManifest.manifestDir(dir)).coalesce(1)
      .write.parquet(ServingManifest.logDir(dir) + "/v=1.full")

    (2 to 19).foreach(_ => ServingManifest.reconcile(spark, dir, Seq(0)))
    assert(ServingManifest.versions(spark, dir) == (1 to 19),
      "18 reconciles after the checkpoint must log versions 2-19")

    // keep=3 → cutoff v17, newest checkpoint at-or-below is v16:
    // v1-v15 die, v16-v19 survive
    assert(ServingManifest.truncate(spark, dir, keep = 3) == 15)
    assert(ServingManifest.versions(spark, dir) == (16 to 19))
    assert(ServingManifest.openAt(spark, dir, 15).isEmpty,
      "a truncated version must open as None, not fail")
    (16 to 19).foreach { v =>
      assert(ServingManifest.openAt(spark, dir, v).get.count() == 4,
        s"kept version $v must still reconstruct")
    }
    // idempotent: nothing further is safely deletable
    assert(ServingManifest.truncate(spark, dir, keep = 3) == 0)
  }

  test("retention wired into appends: the log stays bounded under churn") {
    import spark.implicits._
    // 120-install churn on a synthetic 1-leaf layout (retention is a
    // LOG property; the data files are irrelevant): reconcile+truncate
    // after every install — exactly what appendToServing(keepVersions)
    // runs — must hold the steady-state version count at
    // ≤ keep + CheckpointInterval however long the churn continues
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_churn").toString + "/idx"
    spark.range(4).select(col("id").as("vec_id"))
      .coalesce(1).write.parquet(dir + "/leaf_id=0")
    ServingManifest.rebuild(spark, dir)
    val keep = 16
    val bound = keep + ServingManifest.CheckpointInterval
    var worst = 0
    (1 to 120).foreach { i =>
      ServingManifest.reconcile(spark, dir, Seq(0))
      ServingManifest.truncate(spark, dir, keep)
      worst = math.max(worst, ServingManifest.versions(spark, dir).length)
    }
    assert(worst <= bound,
      s"log grew to $worst versions under churn — retention must hold " +
        s"it at ≤ $bound (keep=$keep + interval)")
    // every retained version still reconstructs; dropped ones are None
    val vs = ServingManifest.versions(spark, dir)
    assert(vs.length >= keep, "the most recent keep versions survive")
    vs.foreach { v =>
      assert(ServingManifest.openAt(spark, dir, v).isDefined,
        s"retained version $v must reconstruct")
    }
    assert(ServingManifest.openAt(spark, dir, vs.head - 1).isEmpty)
  }

  test("appendToServing keepVersions: real append path truncates the log") {
    val (dir, _) = freshServe("retained")
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    // 24 single-batch upserts with keep=4: build(1) + 24 appends = 25
    // installs; unbounded the log would hold 25 versions, retained it
    // must stay ≤ keep + CheckpointInterval
    (1 to 24).foreach { i =>
      val b = emb.filter(col("vec_id") === (i * 7L) % 500)
        .withColumn("vec_id", col("vec_id") + 900000L + i * 1000L)
      IndexMaintenance.appendToServing(spark, dir, b, "vec_id", "v",
        "version", keepVersions = 4)
    }
    val vs = ServingManifest.versions(spark, dir)
    assert(vs.last == 25, s"24 appends after the build must reach v25, $vs")
    assert(vs.length <= 4 + ServingManifest.CheckpointInterval,
      s"retained append path must bound the log, held ${vs.length}: $vs")
    // the newest 4 versions reconstruct; the layout itself is intact
    vs.takeRight(4).foreach { v =>
      assert(ServingManifest.openAt(spark, dir, v).isDefined)
    }
    assert(ServingManifest.verify(spark, dir) == ((0L, 0L)))
    // keepVersions <= 0 disables retention: the next append drops
    // nothing
    val before = ServingManifest.versions(spark, dir).length
    val b = emb.filter(col("vec_id") === 3)
      .withColumn("vec_id", col("vec_id") + 990000L)
    IndexMaintenance.appendToServing(spark, dir, b, "vec_id", "v",
      "version", keepVersions = 0)
    assert(ServingManifest.versions(spark, dir).length == before + 1,
      "keepVersions=0 must keep every version")
  }

  test("per-append manifest write cost is independent of manifest " +
      "size (the O(delta) append property, asserted at two sizes)") {
    import spark.implicits._
    // two synthetic layouts, 20x apart in manifest size, same ONE
    // touched leaf per append: the bytes a reconcile WRITES must not
    // scale with the manifest
    def mk(nLeaves: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_odelta_$nLeaves").toString + "/idx"
      (0 until nLeaves).foreach { l =>
        Seq((l.toLong, l)).toDF("vec_id", "x")
          .coalesce(1).write.parquet(dir + s"/leaf_id=$l")
      }
      ServingManifest.rebuild(spark, dir)
      dir
    }
    def appendBytes(dir: String): (Long, Int) = {
      val vsBefore = ServingManifest.versions(spark, dir)
      // a fresh file lands in leaf 0, reconcile records it
      spark.range(1).select(col("id").as("vec_id"), lit(99).as("x"))
        .coalesce(1).write.mode("append").parquet(dir + "/leaf_id=0")
      ServingManifest.reconcile(spark, dir, Seq(0))
      val v = ServingManifest.versions(spark, dir).last
      assert(v == vsBefore.last + 1)
      val logV = new java.io.File(
        ServingManifest.logDir(dir) + s"/v=$v")
      assert(logV.exists(), s"v=$v must be a DELTA dir (not .full)")
      val bytes = logV.listFiles().filter(_.isFile).map(_.length()).sum
      val mver = spark.read.parquet(ServingManifest.manifestDir(dir))
        .select("mver").head().getInt(0)
      (bytes, mver)
    }
    val small = mk(5)
    val big = mk(100)
    val (bSmall, mverSmall) = appendBytes(small)
    val (bBig, mverBig) = appendBytes(big)
    // the delta logs ONE added file either way: same order of bytes
    // (parquet framing dominates; 1.5x slack for dictionary noise)
    assert(bBig <= bSmall * 3 / 2,
      s"append log cost grew with manifest size: $bSmall -> $bBig bytes")
    // and neither append rewrote the manifest checkpoint
    assert(mverSmall == 1 && mverBig == 1,
      s"append must not rewrite the checkpoint (mver $mverSmall/$mverBig)")
    // the live fold still serves the appended file
    assert(ServingManifest.verify(spark, small) == ((0L, 0L)))
    assert(ServingManifest.verify(spark, big) == ((0L, 0L)))
  }

  test("pre-log layout: the first logged mutation is a checkpoint") {
    val (dir, _) = freshServe("prelog")
    // simulate a layout written before the snapshot log existed:
    // manifest present, log absent
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete(); ()
    }
    rmr(new java.io.File(ServingManifest.logDir(dir)))
    assert(ServingManifest.versions(spark, dir).isEmpty)
    val live = ServingManifest.open(spark, dir).get.count()
    // the steady-state DELTA path is the dangerous one: v=1 written
    // as a delta has no checkpoint beneath it and can never fold
    ServingManifest.reconcile(spark, dir, Seq(0))
    assert(ServingManifest.versions(spark, dir) == Seq(1))
    assert(new java.io.File(ServingManifest.logDir(dir) + "/v=1.full")
      .exists(), "the first logged version must be a forced checkpoint")
    assert(ServingManifest.openAt(spark, dir, 1).get.count() == live,
      "openAt(1) must reconstruct on a freshly-logged layout")
  }

  test("a lost log-delta rename rolls back CONSISTENTLY (the one " +
      "steady-state crash window) and the next reconcile adopts the " +
      "orphaned files") {
    val (dir, _) = freshServe("crashlog")
    val before = ServingManifest.open(spark, dir).get.count()
    val b1 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 41 === 2)
      .select((col("vec_id") + 500000).as("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, b1, "vec_id", "v", "version")
    assert(ServingManifest.versions(spark, dir) == Seq(1, 2))
    val after = ServingManifest.open(spark, dir).get.count()
    // simulate the crash window: the append's data files landed but
    // the log-delta rename was lost (a steady-state install is ONE
    // atomic rename — there is no half-applied state to observe)
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete(); ()
    }
    rmr(new java.io.File(ServingManifest.logDir(dir) + "/v=2"))
    assert(ServingManifest.versions(spark, dir) == Seq(1))
    // the view rolls back to the v1 snapshot — consistent, not torn
    assert(ServingManifest.open(spark, dir).get.count() == before,
      "a lost delta must roll the live view back to the prior snapshot")
    // and the orphaned data files are DETECTED as drift, not silent
    assert(ServingManifest.verify(spark, dir)._2 > 0L,
      "orphaned post-crash files must register as unlisted drift")
    // a reconcile of the touched leaves (what the next append to them
    // runs) re-lists the directories fresh and ADOPTS the orphans
    ServingManifest.reconcile(spark, dir, 0 until 8)
    assert(ServingManifest.verify(spark, dir) == ((0L, 0L)),
      "reconcile must adopt orphaned files from a crashed install")
    assert(ServingManifest.open(spark, dir).get.count() == after)
  }

  test("a manifest dir AHEAD of the log (pre-r18 manifest-first crash " +
      "shape) is served as-is and re-synced by a forced checkpoint") {
    val (dir, _) = freshServe("aheadlog")
    val b1 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 41 === 2)
      .select((col("vec_id") + 500000).as("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(2L).as("version"))
    IndexMaintenance.appendToServing(spark, dir, b1, "vec_id", "v", "version")
    val live = ServingManifest.open(spark, dir).get.count()
    // fabricate the legacy crash artifact: a manifest dir stamped
    // mver=3 (newer than any logged version) holding the true live
    // file-set — what the pre-r18 manifest-first installer left when
    // it died between its two renames
    val mDir = ServingManifest.manifestDir(dir)
    val rows = ServingManifest.open(spark, dir).get.inputFiles.length
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_manifest_ahead").toString
    val folded = spark.read.parquet(ServingManifest.logDir(dir) + "/v=1.full")
      .drop("mver")
    // live set = v1 files + v2 delta adds
    val v2adds = spark.read.parquet(ServingManifest.logDir(dir) + "/v=2")
      .filter(col("action") === "add")
      .select("file", "leaf_id", "bytes", "mtime", "stats")
    folded.select("file", "leaf_id", "bytes", "mtime", "stats")
      .unionByName(v2adds)
      .withColumn("mver", lit(3))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete(); ()
    }
    rmr(new java.io.File(mDir))
    assert(new java.io.File(tmp).renameTo(new java.io.File(mDir)))
    assert(rows > 0)
    // reads serve the (newer) manifest dir, not a stale fold
    assert(ServingManifest.open(spark, dir).get.count() == live)
    // the next install re-synchronizes with a forced checkpoint
    ServingManifest.reconcile(spark, dir, Seq(0))
    val vs = ServingManifest.versions(spark, dir)
    assert(new java.io.File(
        ServingManifest.logDir(dir) + s"/v=${vs.last}.full").exists(),
      s"the heal install must be a forced checkpoint, log: $vs")
    assert(ServingManifest.open(spark, dir).get.count() == live)
    assert(ServingManifest.verify(spark, dir) == ((0L, 0L)))
  }

  test("promoted stats skip FILES under a restrict, plan-time") {
    import spark.implicits._
    // a layout whose leaves hold MULTIPLE files with disjoint ranges
    // of a promoted column — the Delta data-skipping shape: a
    // restricted query must scan only the files whose (min, max) can
    // satisfy the predicate, and the manifest is what knows that
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_skip").toString + "/idx"
    def part(leaf: Int, lo: Int, n: Int): Unit =
      (0 until n).map(i => (leaf * 10000L + lo + i, lo + i))
        .toDF("vec_id", "label")
        .coalesce(1).write.mode("append").parquet(dir + s"/leaf_id=$leaf")
    part(0, 0, 5); part(0, 100, 5)     // leaf 0: [0,4] and [100,104]
    part(1, 200, 5); part(1, 300, 5)   // leaf 1: [200,204] and [300,304]
    ServingManifest.rebuild(spark, dir)
    ServingManifest.promote(spark, dir, Seq("label"))
    assert(ServingManifest.promotedCols(spark, dir) == Seq("label"))
    val mf = spark.read.parquet(ServingManifest.manifestDir(dir))
    assert(mf.columns.contains("stats"))
    assert(mf.filter(col("stats") === "").count() == 0,
      "every file must carry footer stats after promote")

    def scanned(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      // execute THIS dataframe (count() would plan a separate query
      // whose metrics never touch this plan instance)
      val n = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      (n, scan.metrics("numFiles").value)
    }

    val opened = ServingManifest.open(spark, dir).get
    assert(scanned(opened) == ((20L, 4L)), "unfiltered: all 4 files")
    // a restrict on the promoted column prunes to the ONE file whose
    // range can satisfy it — across leaves, before any data read
    assert(scanned(opened.filter(col("label") >= 300)) == ((5L, 1L)))
    assert(scanned(opened.filter(col("label") === 102)) == ((1L, 1L)))
    assert(scanned(opened.filter(col("label") < 5)) == ((5L, 1L)))
    // combined with leaf pruning: partition filter picks leaf 0, the
    // stats drop leaf 0's low file
    assert(scanned(opened.filter(col("leaf_id") === 0 &&
      col("label") >= 100)) == ((5L, 1L)))
    // an unsatisfiable restrict scans NOTHING
    assert(scanned(opened.filter(col("label") > 1000)) == ((0L, 0L)))
    // a DISJUNCTION skips through the recursive evaluator: either
    // branch possible keeps the file, both impossible skips it
    assert(scanned(opened.filter(
      col("label") < 5 || col("label") >= 300)) == ((10L, 2L)))
    assert(scanned(opened.filter(
      (col("label") >= 100 && col("label") <= 104) ||
        col("label") === 203)) == ((6L, 2L)))
    // a non-promoted column never skips (conservative)
    assert(scanned(opened.filter(col("vec_id") >= 0))._2 == 4L)
    // correctness against a plain listing read, same predicate
    val expected = spark.read.parquet(dir)
      .filter(col("label") >= 100 && col("label") <= 204)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = ServingManifest.open(spark, dir).get
      .filter(col("label") >= 100 && col("label") <= 204)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected)

    // maintenance keeps stats: a new file lands in leaf 0, reconcile
    // gives it footer stats and skipping stays exact
    part(0, 500, 5)
    ServingManifest.reconcile(spark, dir, Seq(0))
    val opened2 = ServingManifest.open(spark, dir).get
    assert(scanned(opened2) == ((25L, 5L)))
    assert(scanned(opened2.filter(col("label") >= 500)) == ((5L, 1L)),
      "reconcile must stat the fresh file so it skips alone")
    assert(scanned(opened2.filter(col("label") >= 300)) == ((10L, 2L)))
  }

  test("estimateAllow: per-map file selectivity from promoted stats — " +
      "conjunction of equality-disjunctions, conservative on no evidence") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_allow").toString + "/idx"
    def part(leaf: Int, lo: Int, n: Int): Unit =
      (0 until n).map(i => (leaf * 10000L + lo + i, lo + i, lo / 100))
        .toDF("vec_id", "label", "grp")
        .coalesce(1).write.mode("append").parquet(dir + s"/leaf_id=$leaf")
    part(0, 0, 5); part(0, 100, 5)     // label [0,4] grp 0; [100,104] grp 1
    part(1, 200, 5); part(1, 300, 5)   // label [200,204] grp 2; [300,304] grp 3
    ServingManifest.rebuild(spark, dir)
    ServingManifest.promote(spark, dir, Seq("label", "grp"))

    def est(m: Map[String, Seq[String]]) =
      ServingManifest.estimateAllow(spark, dir, m)
    // one allowed value inside one file's range → that file only
    val one = est(Map("label" -> Seq("102"))).get
    assert(one.keptFiles == 1 && one.totalFiles == 4)
    // a disjunction spanning two files keeps both
    assert(est(Map("label" -> Seq("2", "301"))).get.keptFiles == 2)
    // a value outside every range matches nothing → all files skip
    assert(est(Map("label" -> Seq("999"))).get.keptFiles == 0)
    // a non-numeric value can't equal any value of a numerically-
    // promoted column → contributes nothing; alone it keeps nothing,
    // mixed with a real value it doesn't block that value's file
    assert(est(Map("label" -> Seq("x"))).get.keptFiles == 0)
    assert(est(Map("label" -> Seq("x", "102"))).get.keptFiles == 1)
    // CONJUNCTION across attributes: both must be satisfiable in the
    // same file
    assert(est(Map("label" -> Seq("102"), "grp" -> Seq("1")))
      .get.keptFiles == 1)
    assert(est(Map("label" -> Seq("102"), "grp" -> Seq("2")))
      .get.keptFiles == 0)
    // no evidence → None (caller must assume unselective): an
    // unpromoted attribute, or a map constraining nothing
    assert(est(Map("vec_id" -> Seq("5"))).isEmpty)
    assert(est(Map.empty).isEmpty)
    // many maps in ONE fold (what the adaptive batch surfaces call)
    // give each map's own estimate
    val maps = Seq(Map("label" -> Seq("102")), Map("label" -> Seq("999")),
      Map("label" -> Seq("2", "301")), Map("vec_id" -> Seq("5")),
      Map("label" -> Seq("102"), "grp" -> Seq("1")))
    assert(ServingManifest.estimateAllowBatch(spark, dir, maps) ==
      maps.map(est))
    // the estimate matches what the scan actually reads: a TYPED
    // equality-disjunction (the implied conjunct the adaptive exact
    // side pushes) file-skips through the In-aware statsKeep —
    // 2 values in 2 files' ranges → numFiles 2 of 4
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
    }
    val opened = ServingManifest.open(spark, dir).get
    assert(scannedFiles(opened.filter(col("label").isin(102, 301))) == 2L,
      "In-aware stats skipping must read only the 2 candidate files")
    assert(est(Map("label" -> Seq("102", "301"))).get.keptFiles == 2)
    // the raw string-form predicate alone CANNOT skip (no statistic
    // sees a cast) — which is exactly why the exact escape pushes the
    // implied typed disjunction next to it
    assert(scannedFiles(opened.filter(
      col("label").cast("string").isin("102"))) == 4L)
    assert(scannedFiles(opened.filter(
      col("label").cast("string").isin("102") &&
        col("label").isin(102))) == 1L,
      "string predicate + implied typed conjunct = exact AND skipping")
  }

  test("a nested partition directory under a leaf fails the listing " +
      "loudly (one partition level is the contract)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_nested").toString + "/idx"
    Seq((1L, 1)).toDF("vec_id", "x").coalesce(1)
      .write.mode("append").parquet(dir + "/leaf_id=0")
    // a second partition level appears — rebuild must refuse, not
    // silently index a layout it can only half-see
    Seq((2L, 2)).toDF("vec_id", "x").coalesce(1)
      .write.mode("append").parquet(dir + "/leaf_id=0/day=1")
    val e = intercept[IllegalArgumentException] {
      ServingManifest.rebuild(spark, dir)
    }
    assert(e.getMessage.contains("partition level"),
      s"unexpected message: ${e.getMessage}")
  }

  test("pre-manifest layouts fall back to a listing read") {
    val (dir, _) = freshServe("fallback")
    // simulate an old layout: drop the manifest
    val m = new java.io.File(ServingManifest.manifestDir(dir))
    m.listFiles().foreach(_.delete()); assert(m.delete())
    assert(!ServingManifest.exists(spark, dir))
    assert(ServingManifest.open(spark, dir).isEmpty)
    val n0 = spark.read.parquet(dir).count()
    assert(ServingManifest.openOrRead(spark, dir).count() == n0)
    // reconcile on a pre-manifest layout is a declared no-op
    ServingManifest.reconcile(spark, dir, Seq(0, 1))
    assert(!ServingManifest.exists(spark, dir))
  }
}
