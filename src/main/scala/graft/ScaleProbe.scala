package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc scale probe: `runMain graft.ScaleProbe <n> <leaves> <maxLeaf>`
  * times the IVF build and the kNN self-join on the synthetic corpus;
  * `runMain graft.ScaleProbe expr <n> <k>` times only a k-wide
  * fixed-centroid assignment expression (codegen-width probe);
  * `runMain graft.ScaleProbe route <L> <dim> <nProbe> <queries>`
  * times flat vs two-level routing over L synthetic leaf centroids
  * (the 65 536-leaf flat-router ceiling evidence — routing cost must
  * go sublinear in L).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args(0) == "route") {
      val L = args(1).toInt; val dim = args(2).toInt
      val nProbe = args(3).toInt; val nQ = args(4).toInt
      val rnd = new scala.util.Random(7)
      val nCl = math.max(1, L / 64) // clustered, like real centroids
      val centers = Array.fill(nCl)(Array.fill(dim)(rnd.nextGaussian() * 10))
      val cents = Array.tabulate(L) { i =>
        val c = centers(i % nCl)
        Array.tabulate(dim)(j => c(j) + rnd.nextGaussian())
      }
      var t0 = System.nanoTime()
      val router = graft.operators.IvfIndex.Router.build(cents)
      println(f"ROUTER_BUILD ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
        s"groups=${router.superCentroids.length}")
      val flat = graft.operators.IvfIndex.Model(cents)
      val routed = graft.operators.IvfIndex.Model(cents, router = Some(router))
      val queries = Array.fill(nQ) {
        val c = centers(rnd.nextInt(nCl))
        Array.tabulate(dim)(j => c(j) + rnd.nextGaussian())
      }
      t0 = System.nanoTime()
      var agree = 0
      val flatRes = queries.map(q => flat.topLeaves(q, nProbe))
      val tFlat = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val routedRes = queries.map(q => routed.topLeaves(q, nProbe))
      val tRouted = (System.nanoTime() - t0) / 1e9
      queries.indices.foreach { i =>
        agree += flatRes(i).toSet.intersect(routedRes(i).toSet).size
      }
      val parity = agree.toDouble / (nQ * nProbe)
      println(f"ROUTE L=$L flat=$tFlat%.3f s routed=$tRouted%.3f s " +
        f"speedup=${tFlat / tRouted}%.1fx parity=$parity%.3f")
      // the DISTRIBUTED batch path: same routing as an expression over
      // a query DataFrame (IvfIndex.probeExpr), flat vs routed
      import spark.implicits._
      val qdf = queries.map(_.toSeq).toSeq.toDF("qv")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      qdf.count()
      def timeExpr(tag: String, m: graft.operators.IvfIndex.Model,
          f32: Boolean = false): Unit = {
        val expr = if (f32)
          graft.operators.IvfIndex.probeExprF32(m, col("qv"), nProbe)
        else graft.operators.IvfIndex.probeExpr(m, col("qv"), nProbe)
        val t0 = System.nanoTime()
        qdf.select(expr.as("p")).agg(sum(size(col("p")))).head()
        println(f"ROUTE_EXPR $tag ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      // the reference-object expressions re-deserialize the full
      // double matrix PER TASK (~0.5 GB task binary at 10⁶ leaves ×
      // 32 slots = OOM on the default 8 GB heap — the measured
      // failure the broadcast f32 path exists to fix); only time them
      // where the per-task copies fit
      if (L <= 200000) {
        timeExpr("flat", flat)
        timeExpr("routed", routed)
      } else println(s"ROUTE_EXPR flat/routed skipped at L=$L " +
        "(per-task matrix copies exceed the 8g default heap)")
      timeExpr("routed_f32", routed, f32 = true)
      // f32 routing: resident footprint per executor, and probe-list
      // parity vs the exact double router (driver reference)
      val bytesF64 = L.toLong * (dim * 8 + 16 + 8) // arrays + headers + ptrs
      val bytesF32 = L.toLong * dim * 4 + 16       // one flat array
      val f32Res = queries.indices.map(i => (i, queries(i).toSeq)).toDF("i", "qv")
        .select(col("i"),
          graft.operators.IvfIndex.probeExprF32(routed, col("qv"), nProbe)
            .as("b"))
        .as[(Int, Seq[Int])].collect().toMap
      var hit = 0L
      var tot = 0L
      queries.indices.foreach { i =>
        val ref = routed.topLeaves(queries(i), nProbe)
        hit += ref.toSet.intersect(f32Res(i).toSet).size
        tot += ref.size
      }
      val parityF32 = hit.toDouble / tot
      println(f"ROUTE_F32 L=$L bytes_f64=$bytesF64 bytes_f32=$bytesF32 " +
        f"(${bytesF64.toDouble / bytesF32}%.1fx smaller) parity=$parityF32%.4f")
    } else if (args(0) == "serve") {
      // durability × routing × pruning in ONE artifact: a REAL build
      // big enough to engage the two-level router (≥10⁴ leaves from
      // vectors, not synthetic centroids), written with its sidecar,
      // REOPENED from disk by a fresh session, and served a routed
      // graft_ann_probe query end to end.
      // usage: serve <n> <numLeaves> <maxLeaf> [unit]
      //   e.g. serve 300000 256 50
      // `unit` L2-normalizes the corpus first: on raw Gaussian norms
      // the MIPS routing (norm-augmented centroids) concentrates every
      // probe list on the high-norm leaves, so batch probes saturate
      // ~10² distinct leaves no matter how directionally diverse the
      // queries are; a unit-norm corpus routes by DIRECTION, the shape
      // a leaf-diverse batch (servebatch … diverse) needs to exceed
      // the 1024-leaf In-list bound and price the shuffle-join degrade
      val n = args(1).toLong; val leaves0 = args(2).toInt
      val maxLeaf = args(3).toInt
      val unit = args.length > 4 && args(4) == "unit"
      val raw = graft.pipeline.SyntheticCorpus.vectors(spark, n, 32, 200)
      val v = (if (unit)
        raw.withColumn("embedding",
          transform(col("embedding"),
            x => x / graft.functions.vectors.l2Norm(col("embedding"))))
      else raw)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      v.count()
      var t0 = System.nanoTime()
      // the hierarchical fit IS the large-build path: one-shot k-means
      // at k >= ~10^4 grinds in MLlib's driver-local init (measured
      // >30 min at k=12288 before being killed), ~sqrt(L) supers then
      // per-super leaf fits take minutes
      val (indexed, model) = graft.operators.IvfIndex.buildTwoLevel(v,
        "vec_id", "embedding", numLeaves = leaves0, maxLeafSize = maxLeaf,
        maxFitRows = 20000L)
      val L = model.centroids.length
      val tBuild = (System.nanoTime() - t0) / 1e9
      require(model.router.nonEmpty && L >= 10000,
        s"serve probe needs >=10^4 leaves with a router, got $L")
      val path = java.nio.file.Files
        .createTempDirectory("graft_serve_probe").toString + "/idx"
      t0 = System.nanoTime()
      graft.operators.IvfIndex.write(indexed, path, model)
      val tWrite = (System.nanoTime() - t0) / 1e9
      v.unpersist()

      // fresh session = the serving process: open from the path alone
      val s2 = spark.newSession()
      graft.plans.GraftExtensions.register(s2)
      t0 = System.nanoTime()
      val served = graft.plans.IndexCatalog.open(s2, "serve_probe", path)
      val tOpen = (System.nanoTime() - t0) / 1e9
      require(served.routed(served.router.get, 8), "router must engage")
      val q = Array.tabulate(32)(j => (j % 7).toDouble)
      def servedQuery(): Long = {
        val hits = s2.read.parquet(path)
          .filter(graft.plans.AnnPruning.probe("serve_probe",
            col("leaf_id"), q.toSeq, 8))
          .select(col("vec_id"),
            graft.functions.vectors.dotProduct(col("embedding"),
              typedLit(q.toSeq)).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(10).collect()
        hits.length.toLong
      }
      servedQuery() // warm the listing/codegen once
      t0 = System.nanoTime()
      val got = servedQuery()
      val tQuery = (System.nanoTime() - t0) / 1e9
      val probed = served.topLeaves(q, 8)
      val scanned = s2.read.parquet(path)
        .filter(col("leaf_id").isin(probed: _*)).count()
      val total = s2.read.parquet(path).count()
      println(f"SERVE n=$n leaves=$L groups=${served.router.get.superCentroids.length} " +
        f"build=$tBuild%.1f s write=$tWrite%.1f s open=$tOpen%.2f s " +
        f"routed_query=$tQuery%.2f s hits=$got " +
        f"scanned=$scanned/$total (${100.0 * scanned / total}%.2f%%) " +
        s"path=$path")
    } else if (args(0) == "serveopen") {
      // serving-process shape over an EXISTING serve artifact: open
      // the index ONCE (sidecar + one file-index listing), then run
      // many routed queries against the held DataFrame. Separates the
      // per-QUERY cost (router walk + partition-pruned scan of a few
      // hundred rows) from the per-OPEN cost (listing ~L directories
      // — paid once per serving process, or delegated to a
      // catalog/metastore at 100 TB). `serve`'s routed_query number
      // re-lists per call; this is the number a serving session sees.
      // usage: serveopen <servePath> [nProbe] [nQueries]
      val path = args(1)
      val nProbe = if (args.length > 2) args(2).toInt else 8
      val nQ = if (args.length > 3) args(3).toInt else 20
      graft.plans.GraftExtensions.register(spark)
      var t0 = System.nanoTime()
      val served = graft.plans.IndexCatalog.open(spark, "serve_probe", path)
      val tOpen = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val df = spark.read.parquet(path)
      df.queryExecution.logical // force relation resolution + listing
      val tList = (System.nanoTime() - t0) / 1e9
      // manifest-backed open over the same artifact: one small
      // sidecar read + explicit file paths instead of the recursive
      // leaf-directory listing above (build it first if the artifact
      // predates manifests — that one-time cost is itself the
      // listing, so it is timed too)
      val tManifestBuild =
        if (graft.operators.ServingManifest.exists(spark, path)) -1.0
        else {
          t0 = System.nanoTime()
          graft.operators.ServingManifest.rebuild(spark, path)
          (System.nanoTime() - t0) / 1e9
        }
      t0 = System.nanoTime()
      val mdf = graft.operators.ServingManifest.open(spark, path).get
      mdf.queryExecution.logical
      val tManifest = (System.nanoTime() - t0) / 1e9
      // untimed: prove the manifest file set is the listed file set
      val (nManifest, nListed) = (mdf.count(), df.count())
      require(nManifest == nListed,
        s"manifest open sees $nManifest rows, listing open $nListed")
      def query(q: Array[Double]): Long = {
        df.filter(graft.plans.AnnPruning.probe("serve_probe",
            col("leaf_id"), q.toSeq, nProbe))
          .select(col("vec_id"),
            graft.functions.vectors.dotProduct(col("embedding"),
              typedLit(q.toSeq)).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(10).count()
      }
      val dim = served.centroids(0).length - 1
      query(Array.tabulate(dim)(j => (j % 7).toDouble)) // warm codegen
      val times = (0 until nQ).map { i =>
        val q = Array.tabulate(dim)(j => ((i * 13 + j) % 9 - 4).toDouble)
        val t = System.nanoTime()
        val h = query(q)
        require(h > 0, s"query $i returned no rows")
        (System.nanoTime() - t) / 1e9
      }.sorted
      println(f"SERVEOPEN leaves=${served.centroids.length} " +
        f"open=$tOpen%.2f s list=$tList%.2f s " +
        f"manifest_build=$tManifestBuild%.2f s " +
        f"manifest_open=$tManifest%.2f s rows=$nManifest nq=$nQ " +
        f"query_min=${times.head}%.3f s med=${times(nQ / 2)}%.3f s " +
        f"max=${times.last}%.3f s")
    } else if (args(0) == "upsertscale") {
      // The incremental-upsert serving path, MEASURED at a leaf count
      // that engages the router: build + write a real index, then N
      // timed appendToServing batches (new ids AND version-2
      // overwrites of build-time ids), then reopen + routed queries
      // from a fresh session. What it prices: the per-batch append
      // cost (assign + append write + delta + manifest reconcile of
      // only the touched leaves), the post-append reopen, the
      // post-append query, and LWW visibility (an overwritten row
      // must serve its new version, an appended id must be found).
      // usage: upsertscale <n> <numLeaves> <maxLeaf> <batchRows> <nBatches>
      val n = args(1).toLong; val leaves0 = args(2).toInt
      val maxLeaf = args(3).toInt
      val batchRows = args(4).toLong; val nBatches = args(5).toInt
      val dim = 32
      val v = graft.pipeline.SyntheticCorpus.vectors(spark, n, dim, 200)
        .withColumn("version", lit(1L))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      v.count()
      var t0 = System.nanoTime()
      val (indexed, model) = graft.operators.IvfIndex.build(v,
        "vec_id", "embedding", numLeaves = leaves0, maxLeafSize = maxLeaf,
        maxFitRows = 20000L)
      val L = model.centroids.length
      val tBuild = (System.nanoTime() - t0) / 1e9
      require(model.router.nonEmpty,
        s"upsertscale wants the routed regime, got $L leaves")
      val path = java.nio.file.Files
        .createTempDirectory("graft_upsert_probe").toString + "/idx"
      t0 = System.nanoTime()
      graft.operators.IvfIndex.write(indexed, path, model)
      val tWrite = (System.nanoTime() - t0) / 1e9
      v.unpersist()

      // the serving process: a fresh session that only knows the path
      val s2 = spark.newSession()
      graft.plans.GraftExtensions.register(s2)
      graft.plans.IndexCatalog.drop("upsert_probe")
      graft.plans.IndexCatalog.open(s2, "upsert_probe", path)
      import org.apache.spark.sql.DataFrame
      def batch(i: Int): DataFrame = {
        // half brand-new ids past the corpus, half version-2
        // overwrites of existing ids (negated vectors, so serving the
        // stale build-time row is detectable by value, not just count)
        val fresh = graft.pipeline.SyntheticCorpus
          .vectors(s2, batchRows / 2, dim, 200)
          .select((col("vec_id") + lit(n + i * batchRows)).as("vec_id"),
            col("embedding"), lit(1L).as("version"))
        val over = graft.pipeline.SyntheticCorpus
          .vectors(s2, batchRows / 2, dim, 200)
          .select((col("vec_id") * 7 + i) % n as "vec_id",
            transform(col("embedding"), x => -x).as("embedding"),
            // versions must strictly increase per id: an id overwritten
            // in two batches gets 2 then 3, never 2 twice
            lit(2L + i).as("version"))
        fresh.unionAll(over)
      }
      val tAppend = (0 until nBatches).map { i =>
        val b = batch(i).persist()
        b.count() // materialize outside the timed region
        val t = System.nanoTime()
        graft.streaming.IndexMaintenance.appendToServing(
          s2, path, b, "vec_id", "embedding", "version")
        val dt = (System.nanoTime() - t) / 1e9
        b.unpersist()
        dt
      }.sorted
      // post-append serving state: reopen (manifest-backed), query
      t0 = System.nanoTime()
      val servingDf = graft.streaming.IndexMaintenance.readServing(
        s2, path, "vec_id", "version").persist()
      servingDf.queryExecution.logical
      val tReopen = (System.nanoTime() - t0) / 1e9
      def query(q: Array[Double]): Array[(Long, Double)] = {
        servingDf.filter(graft.plans.AnnPruning.probe("upsert_probe",
            col("leaf_id"), q.toSeq, 8))
          .select(col("vec_id"),
            graft.functions.vectors.dotProduct(
              col("embedding").cast("array<double>"),
              typedLit(q.toSeq)).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(10)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
      }
      query(Array.tabulate(dim)(j => (j % 7).toDouble)) // warm codegen
      val qTimes = (0 until 10).map { i =>
        val q = Array.tabulate(dim)(j => ((i * 13 + j) % 9 - 4).toDouble)
        val t = System.nanoTime()
        require(query(q).nonEmpty, s"query $i returned no rows")
        (System.nanoTime() - t) / 1e9
      }.sorted
      // visibility: an appended id must be served, and an overwritten
      // id must serve version 2 (the negated vector)
      val newId = n + 0L * batchRows // first fresh id of batch 0
      val newVec = batch(0).filter(col("vec_id") === newId)
        .select(col("embedding")).head().getSeq[Double](0).toArray
      // MIPS self-hit is not guaranteed on this corpus (a larger-norm
      // neighbor can out-score dot(x,x)); the serving property to
      // prove is probe-REACHABILITY: the appended row lives in a leaf
      // that routing for its own vector probes, with no recluster
      val found = servingDf
        .filter(graft.plans.AnnPruning.probe("upsert_probe",
          col("leaf_id"), newVec.toSeq, 8))
        .filter(col("vec_id") === newId).count()
      require(found > 0,
        s"appended id $newId not reachable through its own probe")
      val overwritten = servingDf.filter(col("version") === 2L).count()
      val stale = servingDf.groupBy("vec_id")
        .agg(countDistinct("version").as("nv"))
        .filter(col("nv") > 1).count()
      require(stale == 0, s"$stale ids serve more than one version")
      val rowsPerS = batchRows / tAppend(tAppend.length / 2)
      println(f"UPSERTSCALE leaves=$L build=$tBuild%.1f s " +
        f"write=$tWrite%.1f s batches=$nBatches x$batchRows " +
        f"append_min=${tAppend.head}%.2f s med=${tAppend(tAppend.length / 2)}%.2f s " +
        f"max=${tAppend.last}%.2f s (${rowsPerS}%.0f rows/s med) " +
        f"reopen=$tReopen%.2f s query_med=${qTimes(5)}%.3f s " +
        f"overwritten_live=$overwritten stale=$stale")
      servingDf.unpersist()
    } else if (args(0) == "manifestscale") {
      // driver-side planning cost of ManifestFileIndex at 100 TB file
      // counts: listFiles with and without a pruning predicate over
      // synthetic manifest entries (no fs involved — that is the
      // point of the index; the one real-fs cost of an open is a
      // single footer read). usage: manifestscale <nLeaves> <filesPerLeaf>
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.types.IntegerType
      val nLeaves = args(1).toInt
      val fpl = if (args.length > 2) args(2).toInt else 2
      val entries = Array.tabulate(nLeaves * fpl) { i =>
        val l = i / fpl
        (s"leaf_id=$l/part-$i.parquet", l, 4L << 20, 0L, "")
      }
      var t0 = System.nanoTime()
      val idx = new graft.operators.ManifestFileIndex(spark,
        new org.apache.hadoop.fs.Path("/tmp/graft_manifest_scale"), entries)
      val nAll = idx.listFiles(Nil, Nil).map(_.files.length).sum
      val tAll = (System.nanoTime() - t0) / 1e9
      // a 16-leaf In-list, the graft_ann_probe shape after rewrite
      val attr = AttributeReference("leaf_id", IntegerType)()
      val probe = In(attr, (0 until 16).map(l =>
        Literal(l * (nLeaves / 16))))
      t0 = System.nanoTime()
      val pruned = idx.listFiles(Seq(probe), Nil)
      val nPruned = pruned.map(_.files.length).sum
      val tPruned = (System.nanoTime() - t0) / 1e9
      // second probe = steady state (the first pays the one-time
      // leaf-lookup build, amortized over the serving process)
      val probe2 = In(attr, (0 until 16).map(l =>
        Literal(l * (nLeaves / 16) + 1)))
      t0 = System.nanoTime()
      val n2 = idx.listFiles(Seq(probe2), Nil).map(_.files.length).sum
      val tSteady = (System.nanoTime() - t0) / 1e9
      println(f"MANIFESTSCALE leaves=$nLeaves files=${entries.length} " +
        f"group+list_all=$tAll%.2f s ($nAll files) " +
        f"pruned_16_first=$tPruned%.3f s ($nPruned files) " +
        f"pruned_16_steady=$tSteady%.5f s ($n2 files)")
    } else if (args(0) == "query") {
      // time one registered query in isolation (bench triage):
      // usage: query <name> <sfDir> [repeats]
      val name = args(1); val d = args(2)
      val n = if (args.length > 3) args(3).toInt else 3
      (1 to n).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, d).count()
        SessionConf.releaseQueryResources(spark)
        println(f"QUERY $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    } else if (args(0) == "rebalprofile") {
      // phase timing of the r_rebalance gate shape (bench triage):
      // usage: rebalprofile <sfDir>
      import graft.streaming.IndexMaintenance
      import graft.operators.IvfIndex
      import spark.implicits._
      val d = args(1)
      def t[A](tag: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        println(f"REBALPROF $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val emb = Tables.embeddings(spark, d).filter(col("vec_id") < 250)
      val base = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
      val servePath = java.nio.file.Files
        .createTempDirectory("graft_rebalprof").toString + "/idx"
      val (indexed, model) = t("build") {
        IvfIndex.build(base, "vec_id", "v", 4)
      }
      t("write") { IvfIndex.write(indexed, servePath, model) }
      val donors = base.filter(col("vec_id") < 40)
        .select("vec_id", "v").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val appends = Seq.tabulate(40) { i =>
        (900000L + i,
          donors(i.toLong).zipWithIndex.map { case (x, j) =>
            x + 0.01 * (((i + j) % 3) - 1)
          }, 1)
      }.toDF("vec_id", "v", "version")
      t("append") {
        IndexMaintenance.appendToServing(spark, servePath, appends,
          "vec_id", "v", "version")
      }
      t("oversized") {
        IndexMaintenance.oversizedLeaves(spark, servePath, 100).count()
      }
      t("counts") {
        spark.read.parquet(servePath).count()
        spark.read.parquet(servePath).select("vec_id").distinct().count()
      }
      t("rebalance") {
        IndexMaintenance.rebalanceOverflow(spark, servePath,
          "vec_id", "v", maxLeafSize = 100)
      }
      t("aftercounts") {
        val a = spark.read.parquet(servePath)
        a.count(); a.select("vec_id").distinct().count()
      }
      t("search_new_session") {
        val s2 = spark.newSession()
        val m2 = IvfIndex.load(s2, servePath)
        IvfIndex.search(s2, servePath, m2, donors(3L).toArray,
          nProbe = math.min(8, m2.centroids.length), k = 5,
          "vec_id", "v").collect()
      }
    } else if (args(0) == "logscale") {
      // per-append MANIFEST + SNAPSHOT-LOG maintenance cost vs total
      // file count: a synthetic manifest at each requested size, one
      // real leaf directory, then timed reconciles of that single
      // leaf. What must hold for the Delta-log shape: the LOG entry
      // per append stays ~constant bytes (only the changed files are
      // logged) while the pre-delta format archived the FULL file-set
      // every append — at 10⁶ files that is the difference between a
      // few KB and tens of MB of log growth per upsert batch.
      // usage: logscale <nFiles> [nFiles...]
      import graft.operators.ServingManifest
      import spark.implicits._
      args.drop(1).map(_.toInt).foreach { nFiles =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_logscale_$nFiles").toString + "/idx"
        // one REAL leaf (reconcile lists it); the rest synthetic
        spark.range(64).select(col("id").as("vec_id"))
          .coalesce(1).write.parquet(dir + "/leaf_id=0")
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val real = fs.listStatus(new org.apache.hadoop.fs.Path(dir + "/leaf_id=0"))
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map(f => ("leaf_id=0/" + f.getPath.getName, 0, f.getLen,
            f.getModificationTime)).toSeq
        val synth = (0 until nFiles).map { i =>
          val l = 1 + i / 2
          (s"leaf_id=$l/part-$i.parquet", l, 4L << 20, 0L)
        }
        (real ++ synth).toDF("file", "leaf_id", "bytes", "mtime")
          .coalesce(1).write.parquet(ServingManifest.manifestDir(dir))
        spark.read.parquet(ServingManifest.manifestDir(dir)).coalesce(1)
          .write.parquet(ServingManifest.logDir(dir) + "/v=1.full")
        def dirBytes(p: String): Long = {
          val path = new org.apache.hadoop.fs.Path(p)
          if (!fs.exists(path)) 0L
          else fs.listStatus(path).filter(_.isFile).map(_.getLen).sum
        }
        val manifestBytes = dirBytes(ServingManifest.manifestDir(dir))
        // append shape: a new data file lands in leaf 0, reconcile
        val src = real.head._1
        var t0 = System.nanoTime()
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(dir + "/" + src), fs,
          new org.apache.hadoop.fs.Path(dir + "/leaf_id=0/part-new0.parquet"),
          false, spark.sparkContext.hadoopConfiguration)
        ServingManifest.reconcile(spark, dir, Seq(0))
        val tRec1 = (System.nanoTime() - t0) / 1e9
        val deltaBytes = dirBytes(ServingManifest.logDir(dir) + "/v=2")
        // steady-state repeat (no cold parquet-read costs)
        t0 = System.nanoTime()
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(dir + "/" + src), fs,
          new org.apache.hadoop.fs.Path(dir + "/leaf_id=0/part-new1.parquet"),
          false, spark.sparkContext.hadoopConfiguration)
        ServingManifest.reconcile(spark, dir, Seq(0))
        val tRec2 = (System.nanoTime() - t0) / 1e9
        val delta2Bytes = dirBytes(ServingManifest.logDir(dir) + "/v=3")
        val at2 = ServingManifest.openAt(spark, dir, 2)
        require(at2.isDefined, "logged version must reconstruct")
        println(f"LOGSCALE files=${nFiles + real.length} " +
          f"manifest=${manifestBytes / 1024}%d KB " +
          f"reconcile1=$tRec1%.2f s delta_v2=${deltaBytes}%d B " +
          f"reconcile2=$tRec2%.2f s delta_v3=${delta2Bytes}%d B " +
          f"full_archive_would_be=${manifestBytes / 1024}%d KB/append")
      }
    } else if (args(0) == "servesession") {
      // the resident Serving handle over an existing artifact: open
      // ONCE, then ≥100 routed queries against the held frame —
      // p50/p95 per query is the serving session's real latency
      // number (serveopen measured open-vs-list; this measures the
      // process-shaped API). usage: servesession <servePath> [nProbe] [nQ]
      val path = args(1)
      val nProbe = if (args.length > 2) args(2).toInt else 8
      val nQ = if (args.length > 3) args(3).toInt else 100
      var t0 = System.nanoTime()
      val serving = graft.operators.Serving.open(spark, path)
      serving.data.queryExecution.logical // force resolution at open
      val tOpen = (System.nanoTime() - t0) / 1e9
      val dim = serving.model.centroids(0).length - 1
      // warm codegen + shuffle machinery once
      serving.search(Array.tabulate(dim)(j => (j % 7).toDouble),
        nProbe, 10).count()
      val times = (0 until nQ).map { i =>
        val q = Array.tabulate(dim)(j => ((i * 13 + j) % 9 - 4).toDouble)
        val t = System.nanoTime()
        val h = serving.search(q, nProbe, 10).count()
        require(h > 0, s"query $i returned no rows")
        (System.nanoTime() - t) / 1e9
      }.sorted
      println(f"SERVESESSION leaves=${serving.numLeaves} nq=$nQ " +
        f"open=$tOpen%.2f s p50=${times(nQ / 2)}%.3f s " +
        f"p95=${times(nQ * 95 / 100)}%.3f s " +
        f"min=${times.head}%.3f s max=${times.last}%.3f s")
    } else if (args(0) == "servebatch") {
      // distributed BATCH search against an existing artifact: ONE
      // plan answers every query — the number that matters is
      // amortized sec/query vs the per-query p50 (servesession), and
      // how it moves with batch size. usage:
      //   servebatch <servePath> [nProbe] [nQ] [k] [diverse]
      // default queries collapse to 9 distinct vectors (the In-list
      // pruned path — SCALE.md's recorded caveat); `diverse` draws
      // each query from a DIFFERENT leaf centroid so the batch's
      // probed union exceeds the 1024-leaf In-list bound and the
      // full shuffle-join degrade path gets its own measured number
      import spark.implicits._
      val path = args(1)
      val nProbe = if (args.length > 2) args(2).toInt else 8
      val nQ = if (args.length > 3) args(3).toInt else 1000
      val k = if (args.length > 4) args(4).toInt else 10
      val diverse = args.length > 5 && args(5) == "diverse"
      val serving = graft.operators.Serving.open(spark, path)
      val dim = serving.model.centroids(0).length - 1
      val queries = (if (diverse) {
        val cents = serving.model.centroids
        val L = cents.length
        (0 until nQ).map { i =>
          // Knuth-hash stride decorrelates query index from leaf
          // layout; each query sits ON a distinct centroid, so its
          // probe list is that leaf plus its true neighbors
          val c = cents((((i.toLong * 2654435761L) % L + L) % L).toInt)
          (i.toLong, Seq.tabulate(dim)(j => c(j)))
        }
      } else (0 until nQ).map { i =>
        (i.toLong, Seq.tabulate(dim)(j => ((i * 13 + j) % 9 - 4).toDouble))
      }).toDF("qid", "qv").persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      queries.count()
      // warm the plan once at a tiny batch, then time the real one
      serving.searchBatch(queries.limit(4), "qid", "qv", nProbe, k).count()
      val t0 = System.nanoTime()
      val n = serving.searchBatch(queries, "qid", "qv", nProbe, k).count()
      val tBatch = (System.nanoTime() - t0) / 1e9
      // PHASE SPLIT (the one unpriced serving claim, r9 verdict #6):
      // replicate the searchBatch skeleton with a materialization
      // barrier after each phase so routing-pass, candidate-join, and
      // tail costs land in their own timers. The barriers (persist +
      // count) make the SUM slightly exceed the fused end-to-end
      // number above — the split prices the phases, the fused run is
      // the record.
      import graft.operators.{IvfIndex, Knn}
      var t = System.nanoTime()
      val probes = queries.select(col("qid").as("__qid"),
          col("qv").cast("array<double>").as("__qv"))
        .withColumn("leaf_id", explode(IvfIndex.probeExprF32(
          serving.model, col("__qv"), nProbe)))
        .localCheckpoint(true)
      val leaves = probes.select("leaf_id").distinct()
        .limit(1025).collect().map(_.getInt(0))
      val tRoute = (System.nanoTime() - t) / 1e9
      t = System.nanoTime()
      val pruned = if (leaves.length <= 1024)
        serving.data.filter(col("leaf_id").isin(leaves.toSeq: _*))
      else serving.data
      val unique = pruned.join(probes, Seq("leaf_id"))
        .select(col("__qid"), col("vec_id"),
          graft.functions.vectors.dotProduct(col("embedding"),
            col("__qv")).as("score"))
        .groupBy(col("__qid"), col("vec_id"))
        .agg(max(col("score")).as("score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nCand = unique.count()
      val tJoin = (System.nanoTime() - t) / 1e9
      t = System.nanoTime()
      val nOut = Knn.topKPerQuery(unique, k, "__qid", "vec_id", Knn.Dot)
        .count()
      val tTail = (System.nanoTime() - t) / 1e9
      unique.unpersist()
      println(f"SERVEBATCH leaves=${serving.numLeaves} nq=$nQ " +
        f"k=$k rows=$n total=$tBatch%.2f s " +
        f"per_query=${tBatch / nQ * 1000}%.2f ms " +
        f"| split: route=$tRoute%.2f s (distinct_leaves=${leaves.length}) " +
        f"join=$tJoin%.2f s (cand=$nCand) tail=$tTail%.2f s (out=$nOut)")
    } else if (args(0) == "certified") {
      // certified exact top-k (CertifiedSearch ball bounds): radii
      // build cost, probe-count distribution, and wall time vs the
      // brute-force exact scan it provably equals. usage:
      //   certified [n] [dim] [clusters] [nQ]
      val n = if (args.length > 1) args(1).toLong else 200000L
      val dim = if (args.length > 2) args(2).toInt else 32
      val clusters = if (args.length > 3) args(3).toInt else 256
      val nQ = if (args.length > 4) args(4).toInt else 20
      val vecs = graft.pipeline.SyntheticCorpus
        .vectors(spark, n, dim, clusters)
        .withColumn("embedding", col("embedding").cast("array<double>"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vecs.count()
      var t0 = System.nanoTime()
      val (indexed, model) = graft.operators.IvfIndex.build(
        vecs, "vec_id", "embedding", clusters)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_certprobe").toString + "/idx"
      graft.operators.IvfIndex.write(indexed, dir, model)
      println(f"CERTIFIED_BUILD n=$n leaves=${model.centroids.length} " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      t0 = System.nanoTime()
      graft.operators.CertifiedSearch.buildRadii(spark, dir)
      println(f"CERTIFIED_RADII ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val serving = graft.operators.Serving.open(spark, dir)
      val qs = vecs.filter(col("vec_id") % (n / nQ) === 3)
        .limit(nQ).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      serving.searchCertified(qs.head._2, 10)._1.count() // warm
      val certTimes = new Array[Double](qs.length)
      val probes = new Array[Int](qs.length)
      qs.zipWithIndex.foreach { case ((_, q), i) =>
        val t = System.nanoTime()
        val (res, probed) = serving.searchCertified(q, 10,
          initialProbe = 4)
        require(res.count() == 10)
        certTimes(i) = (System.nanoTime() - t) / 1e9
        probes(i) = probed
      }
      // brute force on the same held frame, same queries
      val bruteTimes = qs.map { case (_, q) =>
        val t = System.nanoTime()
        serving.data.select(col("vec_id"),
            graft.functions.vectors.dotProduct(col("embedding"),
              typedLit(q.toSeq)).as("score"))
          .groupBy("vec_id").agg(max("score").as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(10).count()
        (System.nanoTime() - t) / 1e9
      }
      val ct = certTimes.sorted; val bt = bruteTimes.sorted
      val ps = probes.sorted
      println(f"CERTIFIED leaves=${serving.numLeaves} nq=${qs.length} " +
        f"probed_p50=${ps(ps.length / 2)} probed_max=${ps.last} " +
        f"cert_p50=${ct(ct.length / 2)}%.3f s " +
        f"brute_p50=${bt(bt.length / 2)}%.3f s " +
        f"speedup=${bt(bt.length / 2) / ct(ct.length / 2)}%.1fx")
    } else if (args(0) == "statskip") {
      // manifest file skipping under a restrict (the Delta
      // data-skipping analog): nLeaves × filesPerLeaf files, each
      // holding a disjoint content_length range; a restricted query
      // through the promoted manifest must scan only the satisfiable
      // files. usage: statskip [nLeaves] [filesPerLeaf] [rowsPerFile]
      import spark.implicits._
      import graft.operators.ServingManifest
      val nL = if (args.length > 1) args(1).toInt else 32
      val fpl = if (args.length > 2) args(2).toInt else 8
      val rpf = if (args.length > 3) args(3).toInt else 2000
      val dir = java.nio.file.Files
        .createTempDirectory("graft_statskip").toString + "/idx"
      (0 until nL).foreach { l =>
        (0 until fpl).foreach { f =>
          val base = (l * fpl + f) * rpf
          (0 until rpf).map(i => (base.toLong + i, base + i))
            .toDF("vec_id", "content_length")
            .coalesce(1).write.mode("append").parquet(dir + s"/leaf_id=$l")
        }
      }
      ServingManifest.rebuild(spark, dir)
      def timedScan(df: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
        val t0 = System.nanoTime()
        val n = df.collect().length.toLong
        val t = (System.nanoTime() - t0) / 1e9
        val files = df.queryExecution.executedPlan.collect {
          case fs: org.apache.spark.sql.execution.FileSourceScanExec => fs
        }.head.metrics("numFiles").value
        (n, files, t)
      }
      // one file's range, restricted — before promotion every file is
      // a candidate
      val lo = (nL * fpl / 2) * rpf
      def restricted(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("content_length") >= lo &&
          col("content_length") < lo + rpf)
      val before = timedScan(restricted(
        ServingManifest.open(spark, dir).get))
      var t0 = System.nanoTime()
      ServingManifest.promote(spark, dir, Seq("content_length"))
      val tPromote = (System.nanoTime() - t0) / 1e9
      val after = timedScan(restricted(
        ServingManifest.open(spark, dir).get))
      require(after._1 == before._1,
        s"skipping changed the result: ${after._1} vs ${before._1}")
      println(f"STATSKIP files=${nL * fpl} rows=${nL * fpl * rpf} " +
        f"promote=$tPromote%.1f s " +
        f"before: scanned=${before._2} in ${before._3}%.2f s; " +
        f"after: scanned=${after._2} in ${after._3}%.2f s " +
        f"(${before._2.toDouble / math.max(1, after._2)}%.0fx fewer files)")
    } else if (args(0) == "padapt") {
      // selectivity-adaptive PER-QUERY serving at file scale: the
      // decision (`estimateAllow`) is one driver pass over the
      // manifest rows per distinct map — price it at nL×fpl files,
      // then run a mixed two-tenant adaptive batch (one ultra-
      // selective allow-map, one unrestricted) end-to-end vs the
      // plain probed path. usage: padapt [nLeaves] [filesPerLeaf]
      // [rowsPerFile]
      import spark.implicits._
      import graft.operators.{IvfIndex, Serving, ServingManifest}
      val nL = if (args.length > 1) args(1).toInt else 64
      val fpl = if (args.length > 2) args(2).toInt else 16
      val rpf = if (args.length > 3) args(3).toInt else 500
      val dim = 8
      val dir = java.nio.file.Files
        .createTempDirectory("graft_padapt").toString + "/idx"
      val rnd = new scala.util.Random(11)
      val cents = Array.fill(nL) {
        val v = Array.fill(dim)(rnd.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
      val centsDf = cents.zipWithIndex
        .map { case (c, l) => (l, c.toSeq) }.toSeq.toDF("leaf_id", "__c")
      // ONE write job: one task per leaf, rows sorted by attr, the
      // writer rolls a new file every rpf records — fpl files per
      // leaf, each holding a contiguous DISJOINT attr range
      spark.range(nL.toLong * fpl * rpf)
        .select(col("id").as("vec_id"),
          (col("id") / (fpl * rpf)).cast("int").as("leaf_id"),
          col("id").as("attr"))
        .join(broadcast(centsDf), "leaf_id")
        .withColumnRenamed("__c", "embedding")
        .repartition(col("leaf_id")).sortWithinPartitions("attr")
        .write.option("maxRecordsPerFile", rpf)
        .partitionBy("leaf_id").parquet(dir)
      IvfIndex.writeModel(spark, dir, IvfIndex.Model(cents))
      ServingManifest.rebuild(spark, dir)
      var t0 = System.nanoTime()
      ServingManifest.promote(spark, dir, Seq("attr"))
      val tPromote = (System.nanoTime() - t0) / 1e9
      val serving = Serving.open(spark, dir)
      // decision cost: median single-map estimateAllow (pays one
      // manifest read each) vs ALL 32 maps through the batch form
      // (one read) — the batch form is what collectAdaptiveSets uses
      val maps = (0 until 32).map { i =>
        val v = (i.toLong * 7919L) % (nL.toLong * fpl * rpf)
        Map("attr" -> Seq(v.toString))
      }
      val estTimes = maps.map { m =>
        val t = System.nanoTime()
        val e = ServingManifest.estimateAllow(spark, dir, m)
        require(e.exists(_.keptFiles == 1L),
          s"one value must keep exactly one file: $e")
        (System.nanoTime() - t) / 1e9
      }.sorted
      t0 = System.nanoTime()
      val batchEsts = ServingManifest.estimateAllowBatch(spark, dir, maps)
      val tBatchEst = (System.nanoTime() - t0) / 1e9
      require(batchEsts.forall(_.exists(_.keptFiles == 1L)))
      // mixed batch: tenant A ultra-selective (1 of nL×fpl files),
      // tenant B unrestricted
      val qA = cents(nL / 2)
      val qB = cents(3)
      val selVal = ((nL / 2).toLong * fpl * rpf + 7).toString
      val queries = Seq(
        (0L, qA.toSeq, Some(Map("attr" -> Seq(selVal)))),
        (1L, qB.toSeq, None: Option[Map[String, Seq[String]]]))
        .toDF("qid", "qv", "allow")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      queries.count()
      def time(f: => Long): (Long, Double) = {
        val t = System.nanoTime(); val n = f
        (n, (System.nanoTime() - t) / 1e9)
      }
      // warm both plans
      serving.searchBatchPerQuery(queries, "qid", "qv", "allow",
        Seq("attr"), 8, 10).count()
      val (nPlain, tPlain) = time(serving.searchBatchPerQuery(
        queries, "qid", "qv", "allow", Seq("attr"), 8, 10).count())
      val (nAd, tAd) = time(serving.searchBatchPerQueryAdaptive(
        queries, "qid", "qv", "allow", Seq("attr"), 8, 10).count())
      println(f"PADAPT files=${nL * fpl} rows=${nL.toLong * fpl * rpf} " +
        f"promote=$tPromote%.1f s " +
        f"est_p50=${estTimes(16) * 1000}%.1f ms/map " +
        f"est_batch32=${tBatchEst * 1000}%.1f ms " +
        f"(${tBatchEst / 32 * 1000}%.2f ms/map) " +
        f"| plain=$tPlain%.2f s ($nPlain rows) " +
        f"adaptive=$tAd%.2f s ($nAd rows — incl. the selective " +
        "tenant's full-recall exact escape over 1 file)")
    } else if (args(0) == "pqaniso") {
      // plain vs anisotropic PQ codebooks, measured as MIPS recall@10
      // of ADC ranking vs exact dot ranking — three combinations:
      // (train=plain, encode=plain), (train=aniso, encode=plain),
      // (train=aniso, encode=aniso). Driver-side scoring: this probe
      // measures QUALITY; throughput is the serving tier's story.
      // usage: pqaniso <corpus: synth:<n> | parquet dir> [eta...]
      import graft.operators.ProductQuantizer
      val etas = if (args.length > 2) args.drop(2).map(_.toDouble).toSeq
        else Seq(2.0, 4.0, 8.0)
      val (name, df) =
        if (args(1).startsWith("synth:")) {
          val n = args(1).stripPrefix("synth:").toLong
          ("synth" + n,
            graft.pipeline.SyntheticCorpus.vectors(spark, n, 64, 25))
        } else ("embeddings", spark.read.parquet(args(1) + "/embeddings.parquet")
          .select(col("vec_id"), col("embedding")))
      val rows = df
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val vecs = rows.map(_._2)
      val dim = vecs.head.length
      require(dim == ProductQuantizer.NumSub * ProductQuantizer.SubDim)
      val nSub = ProductQuantizer.NumSub
      val sd = ProductQuantizer.SubDim
      val nQueries = 200
      val queries = rows.indices.by(math.max(1, rows.length / nQueries))
        .take(nQueries).map(i => vecs(i)).toArray
      def encode(cb: Seq[Array[Double]], eta: Double): Array[Array[Int]] =
        vecs.map { x =>
          Array.tabulate(nSub) { s =>
            var bc = 0; var bd = Double.PositiveInfinity
            var c = 0
            while (c < cb.length) {
              var l2 = 0.0; var par = 0.0; var xx = 0.0
              var j = 0
              while (j < sd) {
                val xi = x(s * sd + j); val r = xi - cb(c)(s * sd + j)
                l2 += r * r; par += xi * r; xx += xi * xi; j += 1
              }
              val dd = if (eta == 1.0 || xx == 0.0) l2
                else l2 + (eta - 1.0) * par * par / xx
              if (dd < bd) { bd = dd; bc = c }
              c += 1
            }
            bc
          }
        }
      def recall(codes: Array[Array[Int]], cb: Seq[Array[Double]]): Double = {
        val hits = queries.map { q =>
          val exact = vecs.zipWithIndex.map { case (v, i) =>
            var s = 0.0; var j = 0
            while (j < dim) { s += q(j) * v(j); j += 1 }
            (-s, i)
          }.sorted.take(10).map(_._2).toSet
          val tab = ProductQuantizer.adcTable(q, cb)
          val est = codes.zipWithIndex.map { case (cs, i) =>
            var s = 0.0; var k = 0
            while (k < nSub) { s += tab(k)(cs(k)); k += 1 }
            (-s, i)
          }.sorted.take(10).map(_._2).toSet
          (exact intersect est).size / 10.0
        }
        hits.sum / hits.length
      }
      val sampleDf = df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val plain = ProductQuantizer.trainCodebooks(sampleDf, "vec_id", "v")
      val rPlain = recall(encode(plain, 1.0), plain)
      println(f"PQANISO $name n=${vecs.length} plain/plain recall@10=$rPlain%.4f")
      etas.foreach { eta =>
        val aniso = ProductQuantizer.trainCodebooksAniso(
          sampleDf, "vec_id", "v", eta)
        val rA = recall(encode(aniso, 1.0), aniso)
        val rAA = recall(encode(aniso, eta), aniso)
        println(f"PQANISO $name eta=$eta%.1f aniso/plain=$rA%.4f " +
          f"aniso/aniso=$rAA%.4f (plain/plain $rPlain%.4f)")
      }
      // the FULL-vector objective (coordinate-descent codes + coupled
      // codebook solves) — encode must be CD too, same loss
      val us = vecs.map { x =>
        var nn = 0.0; var j = 0
        while (j < dim) { nn += x(j) * x(j); j += 1 }
        val inv = if (nn == 0.0) 0.0 else 1.0 / math.sqrt(nn)
        Array.tabulate(dim)(j => x(j) * inv)
      }
      etas.foreach { eta =>
        val full = ProductQuantizer.trainCodebooksAnisoFull(
          sampleDf, "vec_id", "v", eta).toArray
        val cdCodes = ProductQuantizer.cdAssign(
          vecs, us, full, eta, 2, null)
        val rF = recall(cdCodes, full.toSeq)
        val rFp = recall(encode(full.toSeq, 1.0), full.toSeq)
        println(f"PQANISO $name eta=$eta%.1f FULL cd/cd=$rF%.4f " +
          f"plainenc=$rFp%.4f (plain/plain $rPlain%.4f)")
      }
    } else if (args(0) == "joincmp") {
      // window-rank vs heap-aggregate ranking for the kNN self-join,
      // on the same deterministic bounded layout as the bench row
      import org.apache.spark.sql.functions._
      val n = args(1).toLong
      val v = graft.pipeline.SyntheticCorpus.vectors(spark, n, 32, 25)
      val sub = pmod(xxhash64(col("vec_id")), lit(8L)).cast("int")
      val indexed = v
        .withColumn("leaf_id", explode(array(
          (col("vec_id") % 25).cast("int") * 8 + sub,
          (col("vec_id") % 25).cast("int") * 8 + (sub + 1) % 8)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      indexed.count()
      def time(tag: String)(body: => Long): Unit = {
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val c = body
          (System.nanoTime() - t0) / 1e9 -> c
        }.sortBy(_._1).apply(1) match {
          case (dt, c) => println(f"JOINCMP $tag n=$n median=$dt%.2f s out=$c")
        }
      }
      time("window") {
        graft.operators.Knn.knnJoinPerLeafWindow(indexed, "vec_id",
          "embedding", 3, graft.operators.Knn.Dot).count()
      }
      time("heap") {
        graft.operators.Knn.knnJoinPerLeaf(indexed, "vec_id",
          "embedding", 3, graft.operators.Knn.Dot).count()
      }
      // parity: identical rows between the two ranking forms
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("qid") < 2000)
        .select(col("qid").cast("long"), col("nid").cast("long"),
          col("score"), col("rn").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val w = rows(graft.operators.Knn.knnJoinPerLeafWindow(indexed, "vec_id",
        "embedding", 3, graft.operators.Knn.Dot))
      val h = rows(graft.operators.Knn.knnJoinPerLeaf(indexed, "vec_id",
        "embedding", 3, graft.operators.Knn.Dot))
      println(s"JOINCMP diff=${(w.diff(h) ++ h.diff(w)).size} of ${w.size}")
    } else if (args(0) == "sqtier") {
      // SQ8 serving-tier economics: bytes on disk vs the raw layout,
      // the per-batch quantized append (appendSqToServing: assign +
      // quantize + pack, no trained artifact), and the packed-byte
      // scan vs the raw-double scan at the same probe width — plus
      // top-10 agreement between the two (SQ8 at 1 B/dim should be
      // near-lossless on ranking, unlike PQ's 4 B/vector).
      // usage: sqtier <n> <numLeaves> <batchRows> <nBatches>
      val n = args(1).toLong; val leaves0 = args(2).toInt
      val batchRows = args(3).toLong; val nBatches = args(4).toInt
      val dim = 64
      import graft.functions.quantize
      val v = graft.pipeline.SyntheticCorpus.vectors(spark, n, dim, 200)
        .withColumn("version", lit(1L))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      v.count()
      val (indexed, model) = graft.operators.IvfIndex.build(v,
        "vec_id", "embedding", numLeaves = leaves0, maxFitRows = 20000L)
      val base = java.nio.file.Files
        .createTempDirectory("graft_sqtier_probe").toString
      val rawPath = base + "/raw"; val sqPath = base + "/sq"
      graft.operators.IvfIndex.write(indexed, rawPath, model)
      val vv = col("embedding").cast("array<double>")
      var t0 = System.nanoTime()
      val sq = indexed
        .withColumn("ma", quantize.maxAbs(vv))
        .withColumn("sq_code",
          quantize.packCodes(quantize.codes(vv, col("ma"))))
        .drop("embedding")
      graft.operators.IvfIndex.write(sq, sqPath, model)
      val tSqWrite = (System.nanoTime() - t0) / 1e9
      v.unpersist()
      def dirBytes(p: String): Long = {
        val root = java.nio.file.Paths.get(p)
        val st = java.nio.file.Files.walk(root)
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally st.close()
      }
      val (bRaw, bSq) = (dirBytes(rawPath), dirBytes(sqPath))

      // the timed append goes to the SQ layout; the SAME batch also
      // lands (untimed) in the raw layout so the query-phase compare
      // below scans identical corpora — otherwise the SQ timings
      // cover n + nBatches·batchRows rows vs raw's n, biased vs SQ
      val tAppend = (0 until nBatches).map { i =>
        val b = graft.pipeline.SyntheticCorpus
          .vectors(spark, batchRows, dim, 200)
          .select((col("vec_id") + lit(n + i * batchRows)).as("vec_id"),
            col("embedding"), lit(1L).as("version"))
          .persist()
        b.count()
        val t = System.nanoTime()
        graft.streaming.IndexMaintenance.appendSqToServing(
          spark, sqPath, b, "vec_id", "embedding", "version")
        val dt = (System.nanoTime() - t) / 1e9
        graft.streaming.IndexMaintenance.appendToServing(
          spark, rawPath, b, "vec_id", "embedding", "version")
        b.unpersist()
        dt
      }.sorted

      // both sides open the SAME way (manifest-backed, no LWW join):
      // the compare is the SCAN economics — bytes touched and kernel
      // cost at the same probe width. (LWW resolution costs one small
      // broadcast join on either tier; readServing is gated/spec'd
      // elsewhere.)
      graft.plans.GraftExtensions.register(spark)
      graft.plans.IndexCatalog.drop("sqtier_raw")
      graft.plans.IndexCatalog.open(spark, "sqtier_raw", rawPath)
      graft.plans.IndexCatalog.drop("sqtier_sq")
      graft.plans.IndexCatalog.open(spark, "sqtier_sq", sqPath)
      val rawDf = graft.operators.ServingManifest.openOrRead(spark, rawPath)
      val sqDf = graft.operators.ServingManifest.openOrRead(spark, sqPath)
      def topRaw(q: Array[Double]): Array[(Long, Double)] = rawDf
        .filter(graft.plans.AnnPruning.probe("sqtier_raw",
          col("leaf_id"), q.toSeq, 8))
        .select(col("vec_id"), graft.functions.vectors.dotProduct(
          col("embedding").cast("array<double>"), typedLit(q.toSeq)).as("s"))
        .orderBy(col("s").desc, col("vec_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      def sqScores(q: Array[Double], ids: Seq[Long]): Map[Long, Double] = {
        val (qMa, qPacked) = quantize.packLocal(q)
        sqDf.filter(graft.plans.AnnPruning.probe("sqtier_sq",
            col("leaf_id"), q.toSeq, 8))
          .select(col("vec_id"), quantize.score(
            quantize.packedDot(col("sq_code"), lit(qPacked)),
            col("ma"), lit(qMa)).as("s"))
          .orderBy(col("s").desc, col("vec_id")).limit(10)
          .unionAll(sqDf.filter(col("vec_id").isin(ids: _*))
            .select(col("vec_id"), quantize.score(
              quantize.packedDot(col("sq_code"), lit(qPacked)),
              col("ma"), lit(qMa)).as("s")))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      def timeSq(q: Array[Double]): Unit = {
        val (qMa, qPacked) = quantize.packLocal(q)
        sqDf.filter(graft.plans.AnnPruning.probe("sqtier_sq",
            col("leaf_id"), q.toSeq, 8))
          .select(col("vec_id"), quantize.score(
            quantize.packedDot(col("sq_code"), lit(qPacked)),
            col("ma"), lit(qMa)).as("s"))
          .orderBy(col("s").desc, col("vec_id")).limit(10)
          .collect()
        ()
      }
      val q0 = Array.tabulate(dim)(j => (j % 7).toDouble)
      topRaw(q0); timeSq(q0) // warm codegen both paths
      // score fidelity: the SQ score of the TRUE top-10 ids vs their
      // exact scores (ranking overlap is meaningless on this corpus —
      // 1000 near-identical vectors per planted cluster tie far below
      // quantization error; what SQ8 must preserve is the score)
      val relErrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val (tR, tS) = (new Array[Double](10), new Array[Double](10))
      (0 until 10).foreach { i =>
        val q = Array.tabulate(dim)(j => ((i * 13 + j) % 9 - 4).toDouble)
        var t = System.nanoTime()
        val r = topRaw(q); tR(i) = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        timeSq(q); tS(i) = (System.nanoTime() - t) / 1e9
        val sq = sqScores(q, r.map(_._1))
        r.foreach { case (id, exact) =>
          if (exact != 0) relErrs += math.abs(sq(id) - exact) / math.abs(exact)
        }
      }
      java.util.Arrays.sort(tR); java.util.Arrays.sort(tS)
      val re = relErrs.sorted
      println(f"SQTIER n=$n leaves=${model.centroids.length} " +
        f"raw_bytes=$bRaw sq_bytes=$bSq (${bRaw.toDouble / bSq}%.1fx) " +
        f"sq_write=$tSqWrite%.1f s " +
        f"append_med=${tAppend(tAppend.length / 2)}%.2f s " +
        f"query_raw_med=${tR(5)}%.3f s query_sq_med=${tS(5)}%.3f s " +
        f"relerr_med=${re(re.length / 2)}%.2e relerr_max=${re.last}%.2e")
    } else if (args(0) == "bqtier") {
      // BQ serving-tier economics: the sign-bit companion column's
      // disk cost on top of raw (8 B/vector — BQ rides ON raw, the
      // rescore needs the floats), the shortlist-then-rescore query
      // vs the raw probed top-k at the same probe width, the
      // append-path cost of deriving fresh codes, and shortlist
      // recall (top-10 of the rescored result vs the raw exact
      // top-10 over the same probed leaves — the rescore is exact,
      // so any miss is a stage-1 shortlist miss).
      // usage: bqtier <n> <numLeaves> <m>
      val n = args(1).toLong; val leaves0 = args(2).toInt
      val m = args(3).toInt
      val dim = 64
      import graft.functions.bquant
      val v = graft.pipeline.SyntheticCorpus.vectors(spark, n, dim, 200)
        .withColumn("version", lit(1L))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      v.count()
      val (indexed, model) = graft.operators.IvfIndex.build(v,
        "vec_id", "embedding", numLeaves = leaves0, maxFitRows = 20000L)
      val base = java.nio.file.Files
        .createTempDirectory("graft_bqtier_probe").toString
      val rawPath = base + "/raw"; val bqPath = base + "/bq"
      graft.operators.IvfIndex.write(indexed, rawPath, model)
      var t0 = System.nanoTime()
      graft.operators.IvfIndex.write(indexed.withColumn("bq_code",
        bquant.packSigns(col("embedding").cast("array<double>"))),
        bqPath, model)
      val tBqWrite = (System.nanoTime() - t0) / 1e9
      v.unpersist()
      def dirBytes(p: String): Long = {
        val root = java.nio.file.Paths.get(p)
        val st = java.nio.file.Files.walk(root)
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally st.close()
      }
      val (bRaw, bBq) = (dirBytes(rawPath), dirBytes(bqPath))
      // append freshness cost: the same batch into both layouts —
      // the bq side derives sign codes in-plan
      val batch = graft.pipeline.SyntheticCorpus
        .vectors(spark, 10000L, dim, 200)
        .select((col("vec_id") + lit(n)).as("vec_id"),
          col("embedding"), lit(1L).as("version"))
        .persist()
      batch.count()
      t0 = System.nanoTime()
      graft.streaming.IndexMaintenance.appendToServing(
        spark, rawPath, batch, "vec_id", "embedding", "version")
      val tAppRaw = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      graft.streaming.IndexMaintenance.appendToServing(
        spark, bqPath, batch, "vec_id", "embedding", "version")
      val tAppBq = (System.nanoTime() - t0) / 1e9
      batch.unpersist()
      val sRaw = graft.operators.Serving.open(spark, rawPath,
        id = "vec_id", vecCol = "embedding")
      val sBq = graft.operators.Serving.open(spark, bqPath,
        id = "vec_id", vecCol = "embedding")
      require(sBq.hasBq)
      def topRaw(q: Array[Double]): Seq[(Long, Double)] =
        sRaw.search(q, 8, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      def topBq(q: Array[Double]): Seq[(Long, Double)] =
        sBq.searchBqRerank(q, 8, m, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      // stage 1 in isolation — the 8 B/vector sign-dot scan + top-m,
      // the piece whose byte economics the tier exists for (the full
      // two-stage path pays a second fixed-size job for the rescore,
      // which dominates at LOCAL corpus sizes and amortizes at scale)
      def stage1(q: Array[Double]): Unit = {
        import graft.functions.bquant
        val leaves = sBq.model.topLeaves(q, 8)
        sBq.data.filter(col("leaf_id").isin(leaves: _*))
          .select(col("vec_id"), bquant.signDot(col("bq_code"),
            typedLit(q.toSeq)).as("s"))
          .orderBy(col("s").desc, col("vec_id")).limit(m)
          .collect()
        ()
      }
      val q0 = Array.tabulate(dim)(j => (j % 7).toDouble)
      topRaw(q0); topBq(q0); stage1(q0) // warm codegen all paths
      val (tR, tB, t1) = (new Array[Double](10), new Array[Double](10),
        new Array[Double](10))
      var overlap = 0; var total = 0
      // score REGRET, not rank overlap: this corpus plants ~1000
      // near-identical vectors per cluster whose sign codes are
      // IDENTICAL, so the shortlist's id tie-break picks different
      // members than the exact ranking — meaningless as a recall
      // measure (the sqtier probe hit the same wall). What the
      // two-stage design must bound is how much exact score the
      // returned top-10 gives up vs the true top-10.
      var regret = 0.0; var regretMax = 0.0; var regretN = 0
      (0 until 10).foreach { i =>
        val q = Array.tabulate(dim)(j => ((i * 13 + j) % 9 - 4).toDouble)
        var t = System.nanoTime()
        val r = topRaw(q); tR(i) = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val b = topBq(q); tB(i) = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        stage1(q); t1(i) = (System.nanoTime() - t) / 1e9
        overlap += r.map(_._1).toSet.intersect(b.map(_._1).toSet).size
        total += r.size
        val (se, sb) = (r.map(_._2).sum, b.map(_._2).sum)
        if (se != 0) {
          val rg = (se - sb) / math.abs(se)
          regret += rg; regretMax = math.max(regretMax, rg); regretN += 1
        }
      }
      java.util.Arrays.sort(tR); java.util.Arrays.sort(tB)
      java.util.Arrays.sort(t1)
      println(f"BQTIER n=$n leaves=${model.centroids.length} m=$m " +
        f"raw_bytes=$bRaw bq_bytes=$bBq " +
        f"(+${(bBq - bRaw).toDouble / bRaw * 100}%.1f%%) " +
        f"bq_write=$tBqWrite%.1f s " +
        f"append_raw=$tAppRaw%.2f s append_bq=$tAppBq%.2f s " +
        f"query_raw_med=${tR(5)}%.3f s query_bq_med=${tB(5)}%.3f s " +
        f"stage1_med=${t1(5)}%.3f s " +
        f"id_overlap=${overlap.toDouble / total}%.3f " +
        f"score_regret_mean=${regret / math.max(1, regretN)}%.2e " +
        f"max=$regretMax%.2e")
    } else if (args(0) == "bqfull") {
      // DIAGNOSTIC bisect arm (round 15): times the FULL drift probe
      // alone over a fresh layout, with args(3) choosing whether ONE
      // verifyBqCodesSince call precedes it — isolates whether the
      // distributed since-diff leaves session state that slows
      // subsequent scans (the r15 bqdrift A/B read the full probe
      // 3-4x slower on the new tree).
      // usage: bqfull <n> <nBatch> <since|nosince>
      val n = args(1).toLong; val nBatch = args(2).toLong
      val withSince = args(3) == "since"
      import graft.functions.bquant
      val v = graft.pipeline.SyntheticCorpus.vectors(spark, n, 64, 200)
        .withColumn("version", lit(1L))
      val (indexed, model) = graft.operators.IvfIndex.build(v,
        "vec_id", "embedding", numLeaves = 64, maxFitRows = 20000L)
      val p = java.nio.file.Files
        .createTempDirectory("graft_bqfull").toString + "/idx"
      graft.operators.IvfIndex.write(indexed.withColumn("bq_code",
        bquant.packSigns(col("embedding").cast("array<double>"))),
        p, model)
      val v0 = graft.operators.ServingManifest.versions(spark, p).max
      val batch = graft.pipeline.SyntheticCorpus
        .vectors(spark, nBatch, 64, 200)
        .select((col("vec_id") + n).as("vec_id"), col("embedding"),
          lit(2L).as("version"))
      graft.streaming.IndexMaintenance.appendToServing(spark, p,
        batch, "vec_id", "embedding", "version")
      val s = graft.operators.Serving.open(spark, p,
        id = "vec_id", vecCol = "embedding")
      s.verifyBqCodes() // warm the scan path once
      val tSince = if (withSince) {
        val td0 = System.nanoTime()
        val fresh = graft.operators.ServingManifest
          .freshEntriesSince(spark, p, v0).get
        val tDiff = (System.nanoTime() - td0) / 1e9
        val ts0 = System.nanoTime()
        val drift = graft.operators.ServingManifest
          .openEntriesSubset(spark, p, fresh) match {
          case None => 0L
          case Some(df) =>
            df.filter(graft.functions.bquant.codeDrift(
              col("embedding"), col("bq_code"))).count()
        }
        require(drift == 0L)
        val tScan = (System.nanoTime() - ts0) / 1e9
        println(f"BQFULL-SPLIT diff=$tDiff%.2f s scan=$tScan%.2f s " +
          s"fresh=${fresh.length} files")
        tDiff + tScan
      } else 0.0
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        require(s.verifyBqCodes() == 0L)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"BQFULL n=$n since=$withSince tSince=$tSince%.2f s " +
        f"full=${ts.map(t => f"$t%.2f").mkString("/")}")
    } else if (args(0) == "bqdrift") {
      // BQ drift-probe economics: the full-scan probe re-derives
      // packSigns over EVERY row per sweep (∝ corpus — a full read
      // at 100 TB), the since-version probe reads only the files
      // appended past the baseline (∝ batch). Prices both at two
      // corpus sizes with the same append batch: full must grow with
      // the corpus, incremental must stay flat.
      // usage: bqdrift <n> <nBatch>
      val n = args(1).toLong; val nBatch = args(2).toLong
      import graft.functions.bquant
      def run(nc: Long): (Double, Double) = {
        val v = graft.pipeline.SyntheticCorpus.vectors(spark, nc, 64, 200)
          .withColumn("version", lit(1L))
        val (indexed, model) = graft.operators.IvfIndex.build(v,
          "vec_id", "embedding", numLeaves = 64, maxFitRows = 20000L)
        val p = java.nio.file.Files
          .createTempDirectory("graft_bqdrift").toString + "/idx"
        graft.operators.IvfIndex.write(indexed.withColumn("bq_code",
          bquant.packSigns(col("embedding").cast("array<double>"))),
          p, model)
        val v0 = graft.operators.ServingManifest.versions(spark, p).max
        val batch = graft.pipeline.SyntheticCorpus
          .vectors(spark, nBatch, 64, 200)
          .select((col("vec_id") + nc).as("vec_id"), col("embedding"),
            lit(2L).as("version"))
        graft.streaming.IndexMaintenance.appendToServing(spark, p,
          batch, "vec_id", "embedding", "version")
        val s = graft.operators.Serving.open(spark, p,
          id = "vec_id", vecCol = "embedding")
        require(s.verifyBqCodesSince(v0) == 0L && s.verifyBqCodes() == 0L)
        def med3(body: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); body
            (System.nanoTime() - t0) / 1e9
          }.sorted
          ts(1)
        }
        (med3 { s.verifyBqCodes(); () },
          med3 { s.verifyBqCodesSince(v0); () })
      }
      run(math.max(4000L, n / 50)) // warm codegen/session once
      val (f1, i1) = run(n / 4)
      val (f4, i4) = run(n)
      println(f"BQDRIFT n=${n / 4} batch=$nBatch full=$f1%.2f s " +
        f"incr=$i1%.2f s | n=$n full=$f4%.2f s incr=$i4%.2f s " +
        f"full_growth=${f4 / f1}%.1fx incr_growth=${i4 / i1}%.1fx")
    } else if (args(0) == "spanscale") {
      // Exact-substring dedup economics at the bench scale row's
      // corpus size: the token-window explode is the honest cost
      // (∝ tokens), so the claims to price are (a) profile and cut
      // wall-clock at n docs, (b) the incremental form's per-batch
      // cost against a persisted store (store never shuffles).
      // usage: spanscale <nDocs> <nBatch>
      val n = args(1).toLong; val nBatch = args(2).toLong
      import graft.operators.Dedup
      val docs = graft.pipeline.SyntheticCorpus.docs(spark, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      def med3(body: => Long): (Double, Long) = {
        var out = 0L
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); out = body
          (System.nanoTime() - t0) / 1e9
        }.sorted
        (ts(1), out)
      }
      // warm
      Dedup.spanProfile(docs.limit(2000), "doc_id", "text", 8).count()
      val (tProf, nDup) = med3 {
        Dedup.spanProfile(docs, "doc_id", "text", 8)
          .filter(col("dup_windows") > 0).count()
      }
      val (tCut, nCutDocs) = med3 {
        Dedup.spanCut(docs, "doc_id", "text", 8).count()
      }
      // the rewrite adds the (id, pos, token) anti-join + per-doc
      // reassembly on top of the cut — price that delta explicitly.
      // The forced value must READ text_dedup: a bare count() of the
      // left join lets Catalyst prune the aggregated right side and
      // the whole rewrite subtree (measured 0.26 s of nothing)
      val (tRw, nRwBytes) = med3 {
        Dedup.spanRewrite(docs, "doc_id", "text", 8)
          .agg(sum(length(col("text_dedup")))).head().getLong(0)
      }
      val storePath = java.nio.file.Files
        .createTempDirectory("graft_spanscale").toString + "/fps"
      Dedup.spanFingerprints(docs, "doc_id", "text", 8)
        .write.mode("overwrite").parquet(storePath)
      val batch = graft.pipeline.SyntheticCorpus.docs(spark, nBatch)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      val store = spark.read.parquet(storePath)
      val (tInc, nBatchDup) = med3 {
        Dedup.spanProfileAgainst(store, batch, "doc_id", "text", 8)
          .filter(col("dup_windows") > 0).count()
      }
      docs.unpersist()
      println(f"SPANSCALE n=$n batch=$nBatch profile=$tProf%.2f s " +
        f"(dup_docs=$nDup) cut=$tCut%.2f s (cut_docs=$nCutDocs) " +
        f"rewrite=$tRw%.2f s (kept_chars=$nRwBytes) " +
        f"incremental=$tInc%.2f s (batch_dup_docs=$nBatchDup)")
    } else if (args(0) == "budgetscale") {
      // Budgeted-selection economics under the shape that motivates
      // the decomposition: ONE dominant part (the 40 TB crawl) holding
      // ~95% of rows. naive windows that part in a single task; the
      // scalable form windows only the straddling priority bucket
      // (~1/1000 of the part). Claims to price: wall-clock gap at
      // nRows, and identical kept counts.
      // usage: budgetscale <nRows>
      val n = args(1).toLong
      import graft.operators.BudgetSample
      val rows = spark.range(n).select(
        when(col("id") % 20 === 0,
          concat(lit("src"), (col("id") % 19).cast("string")))
          .otherwise(lit("crawl")).as("part"),
        pmod(hash(col("id")), lit(1000)).cast("bigint").as("pr"),
        col("id").as("key"),
        (pmod(hash(col("id") * 7), lit(200)) + 1).cast("bigint").as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rows.count()
      // ~a quarter of the dominant part's tokens (crawl holds ~95% of
      // rows at mean weight ~100.5 → ~95n tokens): the straddle still
      // lands mid-crawl, just earlier in its priority range
      val budget = n * 25L
      def med3(body: => Long): (Double, Long) = {
        var out = 0L
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); out = body
          (System.nanoTime() - t0) / 1e9
        }.sorted
        (ts(1), out)
      }
      BudgetSample.scalable(rows.limit(10000), budget).count() // warm
      val (tScal, kS) = med3 { BudgetSample.scalable(rows, budget).count() }
      val (tNaive, kN) = med3 { BudgetSample.naive(rows, budget).count() }
      val cls = BudgetSample.classify(rows, budget)
      val edgeN = BudgetSample.edgeRows(rows, cls).count()
      rows.unpersist()
      require(kN == kS, s"scalable kept $kS != naive kept $kN")
      println(f"BUDGETSCALE n=$n kept=$kS naive=$tNaive%.2f s " +
        f"scalable=$tScal%.2f s speedup=${tNaive / tScal}%.1fx " +
        f"window_rows: naive=$n scalable=$edgeN")
    } else if (args(0) == "deconbloom") {
      // Bloom-gated decontamination economics: the claim to price is
      // "the pre-filter cuts the verify join's input to true hits +
      // the ε false-positive residue while the output stays exact".
      // Measures the gated operator vs the no-bloom exact join at the
      // same corpus, plus the actual candidate-volume reduction.
      // usage: deconbloom <nTrain>
      val n = args(1).toLong
      import graft.operators.Dedup
      val corpus = graft.pipeline.SyntheticCorpus.docs(spark, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpus.count()
      val isEval = col("doc_id") % 50 === 0 // 2% held-out split
      val evalDocs = corpus.filter(isEval)
      val train = corpus.filter(!isEval)
      def med3(body: => Long): (Double, Long) = {
        var out = 0L
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); out = body
          (System.nanoTime() - t0) / 1e9
        }.sorted
        (ts(1), out)
      }
      Dedup.decontaminateWindows(train.limit(2000), evalDocs,
        "doc_id", "text", 8).count() // warm
      val (tBloom, nContam) = med3 {
        Dedup.decontaminateWindows(train, evalDocs, "doc_id", "text", 8)
          .agg(sum("contam_windows")).head().getLong(0)
      }
      // the no-pre-filter baseline: every train window reaches the
      // exact fingerprint join
      val evalFps = Dedup.spanFingerprints(evalDocs, "doc_id", "text", 8)
      def trainWins = train
        .select(col("doc_id"),
          graft.functions.text.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          explode(graft.functions.text.shinglesOfTokens(col("tk"), 8))
            .as("win"))
        .select(col("doc_id"),
          graft.functions.text.md5Binary(col("win")).as("fp"))
      val (tExact, nContamExact) = med3 {
        trainWins.join(evalFps, Seq("fp"), "left_semi").count()
      }
      // the large-eval regime: past the broadcast threshold the plain
      // verify join SHUFFLES every train window on its fingerprint —
      // this is the condition the pre-filter is designed for
      val bcThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (tExactShuffle, _) = med3 {
        trainWins.join(evalFps, Seq("fp"), "left_semi").count()
      }
      val (tBloomShuffle, nContamBS) = med3 {
        Dedup.decontaminateWindows(train, evalDocs, "doc_id", "text", 8)
          .agg(sum("contam_windows")).head().getLong(0)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThresh)
      // candidate-volume reduction the filter actually delivers
      val nKeys = math.max(1L, evalFps.count())
      val shims = org.apache.spark.sql.graftshim.Shims
      val bloom = evalFps
        .agg(shims.bloomAgg(col("fp"), nKeys, nKeys * 10L).as("bf"))
        .head().getAs[Array[Byte]](0)
      val nAll = trainWins.count()
      val nPass = trainWins
        .filter(shims.bloomMightContain(bloom, col("fp"))).count()
      corpus.unpersist()
      require(nContam == nContamExact && nContam == nContamBS,
        s"bloom-gated ($nContam/$nContamBS) must equal exact ($nContamExact)")
      println(f"DECONBLOOM n=$n eval_keys=$nKeys gated=$tBloom%.2f s " +
        f"exact_bcast=$tExact%.2f s exact_shuffle=$tExactShuffle%.2f s " +
        f"gated_shuffle=$tBloomShuffle%.2f s contam_windows=$nContam " +
        f"windows=$nAll bloom_pass=$nPass " +
        f"(${100.0 * nPass / math.max(1L, nAll)}%.1f%% reach the verify join)")
    } else if (args(0) == "dedupinc") {
      // Incremental near-dup: per-batch cost against a persisted
      // signature store as the STORE grows — the claim to price is
      // "per batch ∝ batch + candidates, with the store entering only
      // through one broadcast-joined scan". Times signature compute
      // for the batch, banded candidates vs the store, and the
      // bounded exact verify, at two store sizes.
      // usage: dedupinc <nStore> <nBatch>
      val nStore = args(1).toLong; val nBatch = args(2).toLong
      import graft.operators.Dedup
      def run(ns: Long): (Double, Double, Long) = {
        val store = graft.pipeline.SyntheticCorpus.docs(spark, ns)
        val storePath = java.nio.file.Files
          .createTempDirectory("graft_dedupinc").toString + "/sigs"
        Dedup.minhashSignatures(store, "doc_id", "text")
          .write.mode("overwrite").parquet(storePath)
        val sig = spark.read.parquet(storePath)
        val batch = graft.pipeline.SyntheticCorpus.docs(spark, nBatch)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        var t0 = System.nanoTime()
        val fresh = Dedup.minhashSignatures(batch, "doc_id", "text")
        val cand = Dedup.minhashCandidatesAgainst(sig, fresh, "doc_id")
        val nCand = cand.count()
        val tCand = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val all = store.unionByName(batch)
        val ver = Dedup.jaccardOfPairs(all, "doc_id", "text", cand)
        ver.count()
        val tVer = (System.nanoTime() - t0) / 1e9
        (tCand, tVer, nCand)
      }
      run(math.max(1000L, nStore / 50)) // warm codegen/session
      val (c1, v1, n1) = run(nStore)
      val (c2, v2, n2) = run(nStore * 4)
      println(f"DEDUPINC batch=$nBatch store=$nStore cand=$c1%.1f s " +
        f"verify=$v1%.1f s pairs=$n1 | store4x=${nStore * 4} " +
        f"cand=$c2%.1f s verify=$v2%.1f s pairs=$n2 " +
        f"(cand growth ${c2 / c1}%.1fx at 4x store)")
    } else if (args(0) == "maxsimb") {
      // BATCHED MaxSim amortization: Q multi-vector queries in ONE
      // plan (searchMaxSimBatch) vs the per-qid driver loop (Q
      // separate probed jobs). At local scale each probed job has a
      // fixed scheduling cost, so the loop pays it Q times and the
      // batch once; at cluster scale the batch additionally reads the
      // probed leaves ONCE for all queries whose unions overlap.
      // Results are REQUIREd row-identical before timings count.
      // usage: maxsimb <n> <numLeaves> <Q> <T>
      val n = args(1).toLong; val leaves0 = args(2).toInt
      val nq = args(3).toInt; val nt = args(4).toInt
      val dim = 64
      import spark.implicits._
      val v = graft.pipeline.SyntheticCorpus.vectors(spark, n, dim, 200)
        .withColumn("doc", (col("vec_id") / 16L).cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      v.count()
      val (indexed, model) = graft.operators.IvfIndex.build(v,
        "vec_id", "embedding", numLeaves = leaves0, maxFitRows = 20000L)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_maxsimb_probe").toString + "/idx"
      graft.operators.IvfIndex.write(
        indexed.select("vec_id", "doc", "embedding", "leaf_id"), dir, model)
      v.unpersist()
      val live = graft.operators.Serving.open(spark, dir,
        id = "vec_id", vecCol = "embedding")
      val toks = spark.read.parquet(dir)
        .filter(col("vec_id") < nq.toLong * nt)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("qv"))
        .distinct().collect().sortBy(_.getLong(0))
        .map(_.getSeq[Double](1)).toSeq
      val groups = (0 until nq).map(i =>
        (i.toLong, toks.slice(i * nt, (i + 1) * nt)))
      val queries = groups.toDF("qid", "qvecs")
      // warm codegen/broadcast machinery on a 1-query batch
      live.searchMaxSimBatch(groups.take(1).toDF("qid", "qvecs"),
        "qid", "qvecs", 4, 10, "doc").collect()
      var t0 = System.nanoTime()
      val batch = live.searchMaxSimBatch(queries, "qid", "qvecs",
        4, 10, "doc").collect()
      val tBatch = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val loop = groups.flatMap { case (qid, vs) =>
        live.searchMaxSim(vs.map(_.toArray), 4, 10, "doc").collect()
          .zipWithIndex.map { case (r, i) =>
            (qid, r.getLong(0), r.getDouble(1), i.toLong + 1) }
      }
      val tLoop = (System.nanoTime() - t0) / 1e9
      val got = batch.map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      require(got == loop,
        "batched MaxSim must equal the per-qid loop before timing counts")
      println(f"MAXSIMB n=$n leaves=${model.centroids.length} Q=$nq " +
        f"T=$nt batch=$tBatch%.2f s loop=$tLoop%.2f s " +
        f"amortization=${tLoop / tBatch}%.1fx")
    } else if (args(0) == "expr") {
      val n = args(1).toLong; val k = args(2).toInt
      val v = graft.pipeline.SyntheticCorpus.vectors(spark, n, 32, 25)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      v.count()
      val rnd = new scala.util.Random(7)
      val cents = Seq.fill(k)(Array.fill(32)(rnd.nextDouble() * 100))
      var t0 = System.nanoTime()
      val assigned = v.withColumn("leaf_id",
        graft.operators.IvfIndex.leafExpr(col("embedding"), cents))
      val c = assigned.groupBy("leaf_id").count().count()
      println(f"EXPR k=$k ${(System.nanoTime()-t0)/1e9}%.1f s, leaves=$c")
    } else if (args(0) == "lexappend") {
      // Price the LEXICAL LIFECYCLE at scale (round 16): attach the
      // BM25 sidecar over an n-doc corpus, run m incremental appends
      // of b docs each through the maintained path (vectors + delta +
      // manifest + postings in ONE appendToServing(textCol) call),
      // then serve a hybrid query. Evidence sought: append cost ∝
      // batch (not corpus), postings files ∝ touched buckets (not
      // tasks × buckets), query cost flat as the corpus grows.
      // usage: lexappend <nDocs> <batch> <nAppends>
      import graft.operators.{IvfIndex, Lexical, Serving}
      import graft.streaming.IndexMaintenance
      val n = args(1).toLong; val b = args(2).toLong; val m = args(3).toInt
      val all = graft.pipeline.SyntheticCorpus.docs(spark, n + m * b)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      all.count()
      def dense(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("v", transform(sequence(lit(0), lit(7)),
          j => pmod(xxhash64(col("doc_id"), j), lit(13L)).cast("double")))
      val base = all.filter(col("doc_id") < n)
      var t0 = System.nanoTime()
      val (indexed, model) = IvfIndex.build(
        dense(base).select(col("doc_id"), col("v"), lit(1L).as("version")),
        "doc_id", "v", numLeaves = 64, maxFitRows = 20000L)
      val path = java.nio.file.Files
        .createTempDirectory("graft_lexscale").toString + "/idx"
      IvfIndex.write(indexed, path, model)
      println(f"BUILD ${(System.nanoTime() - t0) / 1e9}%.1f s, n=$n")
      t0 = System.nanoTime()
      Lexical.attach(spark, path, base.select("doc_id", "text"),
        "doc_id", "text")
      println(f"ATTACH ${(System.nanoTime() - t0) / 1e9}%.1f s")
      def postingsFiles(): Int = {
        val d = java.nio.file.Paths.get(path, Lexical.Dir, "postings")
        java.nio.file.Files.walk(d).filter(p =>
          p.toString.endsWith(".parquet")).count().toInt
      }
      val filesAfterAttach = postingsFiles()
      val terms = Seq("w17", "w230", "w1041")
      val q = Array.tabulate(8)(j => (j % 13).toDouble)
      def timeHybrid(tag: String): Unit = (1 to 2).foreach { i =>
        val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
        val t1 = System.nanoTime()
        val rows = serving.searchHybrid(terms, q, nProbe = 4,
          kLex = 20, kDense = 20, kPool = 10, k = 5,
          mmrLam = Some(0.5)).count()
        println(f"${tag}_$i ${(System.nanoTime() - t1) / 1e9}%.2f s, rows=$rows")
      }
      timeHybrid("HYBRID_PRISTINE")
      (1 to m).foreach { i =>
        val lo = n + (i - 1) * b; val hi = n + i * b
        val batch = dense(all.filter(col("doc_id") >= lo &&
            col("doc_id") < hi))
          .select(col("doc_id"), col("v"),
            lit(i + 1L).as("version"), col("text"))
        val t1 = System.nanoTime()
        IndexMaintenance.appendToServing(spark, path, batch,
          "doc_id", "v", "version", spill = 1, textCol = Some("text"))
        println(f"APPEND_$i ${(System.nanoTime() - t1) / 1e9}%.1f s, " +
          s"batch=$b, postings_files=${postingsFiles()}")
      }
      println(s"FILES attach=$filesAfterAttach final=${postingsFiles()} " +
        s"(buckets=${Lexical.Buckets}, appends=$m — spray would be " +
        s"tasks x buckets per append)")
      timeHybrid("HYBRID_LIVED") // full LWW resolution (delta + self-LWW)
      t0 = System.nanoTime()
      IndexMaintenance.compactServing(spark, path, "doc_id", "version")
      println(f"COMPACT ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(postings_files=${postingsFiles()})")
      timeHybrid("HYBRID_COMPACTED") // pristine plan restored
      // batch amortization: 3 hybrid queries in ONE plan (shared
      // postings read for the term union, one pruned dense scan)
      // vs 3 sequential single-query calls
      locally {
        import spark.implicits._
        val serving = Serving.open(spark, path, id = "doc_id", vecCol = "v")
        val qsets = Seq(
          (0L, Seq("w17", "w230"), (0 until 8).map(j => (j % 13).toDouble)),
          (1L, Seq("w1041", "w77"), (0 until 8).map(j => ((j + 3) % 13).toDouble)),
          (2L, Seq("w555", "w900", "w12"), (0 until 8).map(j => ((j + 7) % 13).toDouble)))
        var t1 = System.nanoTime()
        val nb = serving.searchHybridBatch(
          qsets.toDF("query_id", "terms", "qv"), "query_id", "terms", "qv",
          nProbe = 4, kLex = 20, kDense = 20, kPool = 10, k = 5,
          mmrLam = Some(0.5)).count()
        val tBatch = (System.nanoTime() - t1) / 1e9
        t1 = System.nanoTime()
        val ns = qsets.map { case (_, ts, q) =>
          serving.searchHybrid(ts, q.toArray, nProbe = 4, kLex = 20,
            kDense = 20, kPool = 10, k = 5, mmrLam = Some(0.5)).count()
        }.sum
        val tSingle = (System.nanoTime() - t1) / 1e9
        println(f"HYBRID_BATCH3 $tBatch%.2f s (rows=$nb) vs " +
          f"3xSINGLE $tSingle%.2f s — ${tSingle / tBatch}%.1fx")
      }
      all.unpersist()
      ()
    } else if (args(0) == "streamhybprofile") {
      // phase timing of the r_stream_hybrid gate body (round-18
      // triage: where does the record's slowest row actually spend
      // its time — fixture embed, build+attach, the micro-batch
      // machinery, or the hybrid read?). usage: streamhybprofile <sfDir>
      import graft.operators.{IvfIndex, Lexical}
      import graft.pipeline.SparseEmbed
      import graft.streaming.{FileStreamFixture, IndexMaintenance}
      val d = args(1)
      def t[A](tag: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        println(f"STREAMHYB $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val docs = Tables.documents(spark, d)
      val dense = t("embed_densify_ckpt") {
        val dv = SparseEmbed.embed(docs, "doc_id", "text")
        val dvm = dv.groupBy("doc_id")
          .agg(map_from_entries(collect_list(struct(col("idx"), col("w"))))
            .as("m"))
        docs.select("doc_id").join(dvm, Seq("doc_id"), "left")
          .select(col("doc_id"),
            transform(sequence(lit(0), lit(SparseEmbed.Dim - 1)),
              i => coalesce(element_at(col("m"), i.cast("bigint")), lit(0L)))
              .cast("array<double>").as("v"))
          .localCheckpoint()
      }
      val isBase = col("doc_id") % 4 =!= 3
      val model = t("centroids") {
        IvfIndex.Model(dense
          .filter(col("doc_id").isin(Seq(0L, 64L, 128L, 192L): _*))
          .select(col("doc_id"), col("v")).collect().sortBy(_.getLong(0))
          .map(_.getSeq[Double](1).toArray))
      }
      val path = java.nio.file.Files
        .createTempDirectory("graft_shybprof").toString + "/idx"
      t("build_write") {
        IvfIndex.write(dense.filter(isBase)
          .withColumn("version", lit(1L))
          .withColumn("leaf_id", IvfIndex.probeExpr(model, col("v"), 1)(0)),
          path, model)
      }
      t("lexical_attach") {
        Lexical.attach(spark, path, docs.filter(isBase), "doc_id", "text")
      }
      val streamDir = t("fixture_writes") {
        val withText = dense.join(docs.select("doc_id", "text"), Seq("doc_id"))
        val b1 = withText.filter(col("doc_id") % 8 === 3)
          .select(col("doc_id"), col("v"), lit(2L).as("version"),
            col("text"), lit(false).as("tombstone"))
        val b2 = withText.filter(col("doc_id") % 8 === 7)
          .select(col("doc_id"), col("v"), lit(2L).as("version"),
            col("text"), lit(false).as("tombstone"))
          .unionByName(docs.filter(col("doc_id") === 2)
            .select(col("doc_id"), lit(null).cast("array<double>").as("v"),
              lit(3L).as("version"), lit(null).cast("string").as("text"),
              lit(true).as("tombstone")))
        FileStreamFixture.write("shybprof", d, "profile fixture", Seq(b1, b2))
      }
      t("stream_drain") {
        val sq = spark.readStream
          .schema(spark.read.parquet(streamDir).schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet")
          .parquet(streamDir)
          .writeStream.outputMode("append")
          .option("checkpointLocation", path + ".ckpt")
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                bid: Long) =>
            t(s"  batch_$bid") {
              val ups = batch.filter(!col("tombstone")).drop("tombstone")
              val dels = batch.filter(col("tombstone"))
                .select("doc_id", "version")
              if (!ups.isEmpty)
                IndexMaintenance.appendToServing(spark, path, ups,
                  "doc_id", "v", "version", spill = 1,
                  textCol = Some("text"))
              if (!dels.isEmpty)
                IndexMaintenance.removeFromServing(spark, path, dels,
                  "doc_id", "version")
            }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
      }
      t("hybrid_search") {
        import spark.implicits._
        val terms = Seq("spark", "join", "stream", "table", "window",
          "group")
        val rows = terms.toDF("t")
          .select(SparseEmbed.dimIdx(col("t")).as("idx"),
            SparseEmbed.sign(col("t")).as("s"))
          .groupBy("idx").agg(sum("s").as("qw")).filter(col("qw") =!= 0)
          .collect()
        val qv = new Array[Double](SparseEmbed.Dim)
        rows.foreach(r => qv(r.getLong(0).toInt) = r.getLong(1).toDouble)
        val serving = graft.operators.Serving.open(spark, path,
          id = "doc_id", vecCol = "v")
        serving.searchHybrid(terms, qv, nProbe = 2, kLex = 20,
          kDense = 20, kPool = 10, k = 5, mmrLam = Some(0.5)).count()
      }
      ()
    } else {
      val n = args(0).toLong; val leaves = args(1).toInt; val maxLeaf = args(2).toInt
      val v = graft.pipeline.SyntheticCorpus.vectors(spark, n, 32, 25)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      v.count()
      var t0 = System.nanoTime()
      val (indexed, m) = graft.operators.IvfIndex.build(v, "vec_id", "embedding",
        numLeaves = leaves, maxLeafSize = maxLeaf, maxFitRows = 20000L)
      val idx = indexed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stored = idx.count()
      println(f"BUILD ${(System.nanoTime()-t0)/1e9}%.1f s, leaves=${m.centroids.length}, stored=$stored")
      val cand = idx.groupBy("leaf_id").count().agg(sum(col("count")*col("count"))).head().getLong(0)
      println(s"CAND_ORDERED $cand")
      t0 = System.nanoTime()
      val c = graft.operators.Knn.knnJoinPerLeaf(idx, "vec_id", "embedding", 3, graft.operators.Knn.Dot).count()
      println(f"JOIN ${(System.nanoTime()-t0)/1e9}%.1f s, out=$c")
    }
    spark.stop()
  }
}
