package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project,
  SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index — the Spark analog of the reference's
  * Tree-AH index (/root/reference/vector_store/utils/index_manager.py:36-68;
  * leaf_node_embedding_count=500, leaf_nodes_to_search_percent=10,
  * common/config.py:36-37).
  *
  * Build: the corpus is clustered with k-means and every vector gets
  * its leaf assignments; the index table is written
  * `partitionBy(leaf_id)`, so a leaf is a physical partition
  * directory. Four scale decisions:
  *
  *  - **Sample fit**: k-means trains on a bounded sample selected by a
  *    DETERMINISTIC hash predicate over the id column (`xxhash64 mod
  *    1e6 < keep`), never `df.sample()` — the RNG sample draws rows as
  *    a function of partition layout, so a Spark upgrade or input
  *    split change would silently shift the centroids (and the
  *    recall the v_ann_ivf gate hashes). Centroid quality needs a
  *    representative sample, not the corpus; a full-corpus fit would
  *    iterate 100 TB maxIter times. Assignment of ALL rows is a pure
  *    codegen map pass with the tiny centroid set inlined — no MLlib
  *    on the corpus path, no shuffle.
  *  - **MIPS augmentation**: the serving metric is DOT_PRODUCT
  *    (common/config.py:33) but k-means partitions by L2, so plain
  *    k-means leaves scatter the large-norm vectors that dominate
  *    inner-product top-k. We cluster the augmented vectors
  *    x' = [x, sqrt(M² − |x|²)] (M = max corpus norm), under which
  *    L2-nearest ≡ max-inner-product (Shrivastava & Li, NeurIPS 2014;
  *    the same family of transforms ScaNN/Tree-AH uses).
  *  - **Multi-assignment (spill)**: every vector is stored in its top-2
  *    closest leaves (ScaNN/SOAR-style), costing 2× index rows but
  *    roughly doubling the candidate coverage of a fixed probe width —
  *    measured recall@10 at nProbe=4/16 went from 0.68–0.76
  *    (single-assignment) past the 0.8 gate. Boundary vectors — the
  *    ones k-means places near a cut — are exactly the ones a
  *    single-leaf assignment loses.
  *  - **Bounded leaves**: the reference contract is bounded leaf size
  *    (leaf_node_embedding_count=500). Sample-fit bounds the BUILD but
  *    nothing in plain k-means bounds a LEAF — a skewed corpus can put
  *    30% of the rows in one leaf, making every probe of it a scan.
  *    After assignment, leaves exceeding `maxLeafSize` are split by
  *    re-fitting k-means on the oversized leaf's rows (recursive,
  *    bounded rounds); degenerate leaves k-means cannot separate
  *    (e.g. identical vectors) fall back to a deterministic hash
  *    sub-split across centroid copies, which keeps the physical
  *    bound — for identical vectors any partition is equally good.
  *
  * Search: rank leaves by augmented-L2 distance from [q, 0] to each
  * centroid (equivalently |c|² − 2·q·c, since the query's extra
  * coordinate is 0), take the top `nProbe`, and scan only those — the
  * `leaf_id IN (...)` filter becomes Catalyst partition pruning, the
  * exact skip-90%-of-leaves behavior Tree-AH gets from its tree walk.
  * Within the probed leaves, scoring is exact (codegen dot product);
  * spill duplicates are collapsed per id before ranking.
  */
object IvfIndex {

  /** Default leaf capacity, the reference's leaf_node_embedding_count
    * (common/config.py:36). Counted over STORED rows (after spill).
    */
  val DefaultMaxLeafSize = 500

  /** Build-time corpus stats, captured from aggregation passes the
    * build already runs — so a manifest/verification query can report
    * them without re-reading the written index (one countDistinct +
    * one groupBy-max over 2n rows, saved per build).
    */
  final case class BuildStats(nVectors: Long, nRows: Long, maxLeafRows: Long)
  object BuildStats {
    /** For models registered from fixed centroids, not a build. */
    val Unknown: BuildStats = BuildStats(-1L, -1L, -1L)
  }

  /** Two-level centroid router — the Tree-AH TREE-WALK analog
    * (/root/reference/common/config.py:36-37 prunes leaves via a tree
    * walk, not a flat scan). The leaf centroids are clustered into
    * ~√L super-groups; a probe ranks the √L super-centroids, walks
    * groups best-first until it has collected an oversampled candidate
    * pool, and exact-ranks only that pool — routing cost
    * O(√L + candidates) per query instead of the flat O(L) scan,
    * which is what keeps per-query routing flat as leaf counts grow
    * with the corpus (10⁵ leaves: ~400 scored centroids per probe vs
    * 100 000).
    *
    * `groupOf(l)` is leaf l's super-group; persisted with the model
    * (NOT recomputed on load — the final Lloyd's update moves the
    * super-centroids after the last assignment, so a nearest-super
    * recompute could disagree with the grouping the router was built
    * with).
    */
  final case class Router(superCentroids: Array[Array[Double]],
      groupOf: Array[Int], oversample: Int = 4) {
    /** Inverse of groupOf: the leaf ids in each super-group. */
    @transient lazy val groups: Array[Array[Int]] = {
      val bs = Array.fill(superCentroids.length)(
        new scala.collection.mutable.ArrayBuilder.ofInt)
      var i = 0
      while (i < groupOf.length) { bs(groupOf(i)) += i; i += 1 }
      bs.map(_.result())
    }
  }

  object Router {
    /** Below this leaf count no router is built: a flat scan of the
      * centroid array is already microseconds, and the production
      * hash gates (≤ a few hundred leaves) stay byte-identical.
      */
    val MinLeaves = 1024

    private def sqDist(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var j = 0
      while (j < n) { val d = a(j) - b(j); s += d * d; j += 1 }
      s
    }

    private def nearest(x: Array[Double],
        supers: Array[Array[Double]]): Int = {
      var best = 0
      var bs = Double.PositiveInfinity
      var s = 0
      while (s < supers.length) {
        val d2 = sqDist(x, supers(s))
        if (d2 < bs) { bs = d2; best = s }
        s += 1
      }
      best
    }

    /** Deterministic driver-side Lloyd's over the (bounded) centroid
      * array: seeds are evenly-spaced centroids in index order (no
      * RNG — the router must be a pure function of the centroids, or
      * reopening an index would re-route differently), iterations fit
      * on a strided subsample, and one final parallel pass assigns
      * every leaf. O(fitN·√L·d·iters + L·√L·d) — seconds at 10⁵
      * leaves, amortized over the build.
      */
    def build(centroids: Array[Array[Double]], numGroups: Int = 0,
        maxIter: Int = 8, oversample: Int = 4): Router = {
      val L = centroids.length
      val g = math.max(1, math.min(L,
        if (numGroups > 0) numGroups
        else math.ceil(math.sqrt(L.toDouble)).toInt))
      val dim = centroids(0).length
      // strided fit subsample: deterministic, order-independent spread
      val fitN = math.min(L, math.max(16 * g, 4096))
      val stride = math.max(1, L / fitN)
      val fit = Array.range(0, L, stride).map(centroids)
      // farthest-point (k-center) seeding over the fit sample:
      // deterministic AND spread out regardless of centroid order
      // (index-strided seeds can all land in one cluster when the
      // centroid array's order correlates with cluster membership)
      val minD = Array.fill(fit.length)(Double.PositiveInfinity)
      val seeds = new Array[Array[Double]](g)
      var nextSeed = 0
      var si = 0
      while (si < g) {
        seeds(si) = fit(nextSeed).clone()
        var i = 0
        var far = 0
        var fd = -1.0
        while (i < fit.length) {
          val d2 = sqDist(fit(i), seeds(si))
          if (d2 < minD(i)) minD(i) = d2
          if (minD(i) > fd) { fd = minD(i); far = i }
          i += 1
        }
        nextSeed = far
        si += 1
      }
      var supers = seeds
      var iter = 0
      val changed = new java.util.concurrent.atomic.AtomicBoolean(true)
      val fitAssign = new Array[Int](fit.length)
      while (iter < maxIter && changed.get()) {
        changed.set(false)
        java.util.stream.IntStream.range(0, fit.length).parallel()
          .forEach { i =>
            val a = nearest(fit(i), supers)
            if (fitAssign(i) != a) { fitAssign(i) = a; changed.set(true) }
          }
        val sums = Array.fill(g)(new Array[Double](dim))
        val counts = new Array[Long](g)
        var i = 0
        while (i < fit.length) {
          val a = fitAssign(i)
          val v = fit(i)
          val acc = sums(a)
          var j = 0
          while (j < dim) { acc(j) += v(j); j += 1 }
          counts(a) += 1
          i += 1
        }
        supers = Array.tabulate(g)(s =>
          if (counts(s) == 0) supers(s)
          else sums(s).map(_ / counts(s)))
        iter += 1
      }
      val groupOf = new Array[Int](L)
      java.util.stream.IntStream.range(0, L).parallel()
        .forEach(i => groupOf(i) = nearest(centroids(i), supers))
      Router(supers, groupOf, oversample)
    }
  }

  /** Centroids live in augmented (d+1)-dim space (a model made of
    * FIXED d-dim centroids works too: the missing coordinate simply
    * contributes nothing to the ranking terms).
    */
  final case class Model(centroids: Array[Array[Double]],
      stats: BuildStats = BuildStats.Unknown,
      router: Option[Router] = None) {

    /** Routing-precision payload, BROADCAST once per model (cached on
      * the model — repeated [[IvfIndex.probeExprF32]] calls reuse it):
      * flat-packed float32 centroids + float32 supers + groups,
      * fetched once per executor and shared by its tasks. NOT
      * persisted — the sidecar keeps doubles so build-time models
      * round-trip bit-exactly; this is derived at first use via the
      * active session. Requires a router (the f32 path exists for
      * leaf counts where the router always engages).
      */
    @transient lazy val routerDataBc
        : org.apache.spark.broadcast.Broadcast[graft.functions.RouterData] = {
      val r = router.getOrElse(throw new IllegalStateException(
        "routerDataBc needs a routed model"))
      val dim = centroids(0).length
      val flat = new Array[Float](centroids.length * dim)
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        require(cent.length == dim,
          s"centroid $c has dim ${cent.length}, expected $dim")
        var j = 0
        while (j < dim) { flat(c * dim + j) = cent(j).toFloat; j += 1 }
        c += 1
      }
      org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(
        new graft.functions.RouterData(flat, dim,
          r.superCentroids.map(_.map(_.toFloat)), r.groups))
    }

    /** The probe ranking term |c|² − 2·q·c, with the cn/dot loop
      * fused exactly as the original flat scan computed it (same IEEE
      * op order — routed and flat ranking must agree bit-for-bit on
      * any leaf both of them score).
      */
    private def probeScore(c: Array[Double], query: Array[Double]): Double = {
      var dot = 0.0
      var cn = 0.0
      var j = 0
      while (j < c.length) {
        cn += c(j) * c(j)
        if (j < query.length) dot += c(j) * query(j)
        j += 1
      }
      cn - 2.0 * dot
    }

    /** Top leaves for a d-dim query: ascending |c|² − 2·q·c. Routed
      * through the super-groups when a router is present and the
      * candidate pool it would collect is actually smaller than L;
      * flat exact scan otherwise.
      *
      * NaN convention (one rule, driver and executors alike): a leaf
      * whose score is NaN is SKIPPED (never ranked — an admitted NaN
      * slot would be unevictable since every comparison against NaN
      * is false), and a NaN SUPER score ranks that group last (+Inf)
      * so a partly-corrupt query still routes by its finite scores.
      * An all-NaN query therefore probes nothing. Build-time vectors
      * are required finite (see the build's norm check), so this only
      * concerns query-side inputs.
      */
    def topLeaves(query: Array[Double], nProbe: Int): Seq[Int] =
      router match {
        case Some(r) if routed(r, nProbe) =>
          rankLeaves(routedCandidates(r, query, nProbe), query, nProbe)
        case _ =>
          rankLeaves(Array.range(0, centroids.length), query, nProbe)
      }

    private[graft] def routed(r: Router, nProbe: Int): Boolean =
      r.superCentroids.length > 1 &&
        candidateTarget(r, nProbe) < centroids.length

    private def candidateTarget(r: Router, nProbe: Int): Int =
      math.max(nProbe * r.oversample, 32)

    /** Walk super-groups best-first, collecting leaves until the
      * oversampled target is reached. Exposed to the parity spec so
      * it can assert the visited pool is ≪ L.
      */
    private[graft] def routedCandidates(r: Router, query: Array[Double],
        nProbe: Int): Array[Int] = {
      val target = candidateTarget(r, nProbe)
      val ranked = r.superCentroids.zipWithIndex
        .map { case (c, i) =>
          val s = probeScore(c, query)
          // NaN → +Inf: same mapping as RoutedNearestCentroids.route
          (if (java.lang.Double.isNaN(s)) Double.PositiveInfinity else s, i)
        }
        .sortBy { case (s, i) => (s, i) }
      val out = new scala.collection.mutable.ArrayBuilder.ofInt
      var count = 0
      var gi = 0
      // always at least 2 groups: a query near a group boundary has
      // its true nearest leaves split across the two best supers
      while (gi < ranked.length && (count < target || gi < 2)) {
        val leaves = r.groups(ranked(gi)._2)
        out ++= leaves
        count += leaves.length
        gi += 1
      }
      out.result()
    }

    private def rankLeaves(leaves: Array[Int], query: Array[Double],
        nProbe: Int): Seq[Int] =
      leaves.map(l => (probeScore(centroids(l), query), l))
        .filter { case (s, _) => !java.lang.Double.isNaN(s) }
        .sortBy { case (s, l) => (s, l) }.take(nProbe).map(_._2).toSeq
  }

  /** Deterministic keep-predicate: layout-independent hash sampling
    * (same policy as PipelineQueries — `df.sample` is banned on
    * anything that feeds a hash-checked gate).
    */
  private def hashKeep(idCol: Column, keepPerMillion: Long): Column =
    pmod(xxhash64(idCol), lit(1000000L)) < lit(keepPerMillion)

  /** Top-1 and top-2 leaf columns (`__l1`, `__l2`) for the centroid
    * set, via [[graft.functions.NearestCentroids]] — ONE compact
    * codegen loop with the centroid matrix as a reference object.
    * The previous composed form (k-wide `array()` of score
    * expressions + argmin + masked argmin) fell out of codegen past
    * ~64 centroids and ran interpreted (19.8 s for a 50k × 128
    * assignment pass that compiles to sub-second); leaf counts grow
    * with the corpus, so the assignment pass must stay flat in k.
    * Scores, IEEE op order, and first-min tie-breaks are identical,
    * so assignments (and the hash-checked recall gates) are
    * bit-for-bit unchanged. Expects `__v` (double vector) and
    * `__aux` (augmented coordinate).
    */
  private def withAssignments(df: DataFrame, cents: Seq[Array[Double]],
      spill: Int): DataFrame = {
    val effSpill = if (spill >= 2 && cents.length >= 2) 2 else 1
    val nc = org.apache.spark.sql.graftshim.Shims.column(
      graft.functions.NearestCentroids(
        org.apache.spark.sql.graftshim.Shims.expression(col("__v")),
        org.apache.spark.sql.graftshim.Shims.expression(col("__aux")),
        cents.toArray, effSpill))
    val assigned = df.withColumn("__nc", nc)
      .withColumn("__l1", col("__nc").getItem(0))
    (if (effSpill == 2)
      assigned.withColumn("__l2", col("__nc").getItem(1))
    else
      assigned.withColumn("__l2", lit(null).cast("int")))
      .drop("__nc")
  }

  /** Fit k-means on a deterministic bounded sample of `df` (row count
    * `known` avoids a recount) and return AUGMENTED centroids.
    *
    * The fit set is re-arranged to a CANONICAL layout (fixed hash
    * partitioning + in-partition sort on the id) before fitting:
    * k-means|| init draws per-partition seeded samples, so even with
    * identical fit-set content the centroids would otherwise depend on
    * the input's partition layout — the reproducibility hazard the
    * hash-predicate sample exists to remove. The extra shuffle moves
    * at most `target` rows, bounded regardless of corpus size.
    */
  /** The PRIMARY fit stays MLlib at every size: its centroids sit
    * under the `v_ann_ivf` recall gate (≥ 0.8), and kmeans||'s
    * multi-round init measurably beats the single-shot k-means++ of
    * [[fitCentroidsLocal]] there (a local-fit dispatch for small
    * primary fits was tried and REVERTED: recall at sf0.01 dropped
    * below the bound — the oracle caught it). The local fit serves
    * the FAN-OUT sites (per-leaf splits, per-super sub-fits), where
    * no recall gate sits on an individual sub-fit and the ~10
    * scheduled jobs per MLlib fit are the scale cost.
    */
  private def fitCentroids(df: DataFrame, idCol: String, k: Int, known: Long,
      seed: Long, maxIter: Int, maxFitRows: Long): Array[Array[Double]] = {
    val target = math.max(maxFitRows, 16L * k)
    val fitSet =
      if (known <= target) df
      else df.filter(hashKeep(col(idCol),
        math.max(1L, (target * 1000000L) / known)))
    val canonical = fitSet.repartition(16, col(idCol))
      .sortWithinPartitions(idCol)
    val km = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__features").setPredictionCol("__p")
    km.fit(canonical).clusterCenters.map(_.toArray)
  }

  /** Driver-local Lloyd's over the same bounded, hash-deterministic
    * sample as [[fitCentroids]] — the FAN-OUT fit. Per-leaf split
    * refits and per-super sub-fits are each bounded by `maxFitRows`
    * BY CONSTRUCTION, so collecting the fit set is driver-safe, and
    * an in-memory fit replaces the ~10 scheduled Spark jobs of an
    * MLlib fit (kmeans|| init rounds + Lloyd's iterations, each a
    * job) with ONE collect: a 10³-leaf overflow round becomes 10³
    * collects on the bounded pool instead of 10⁴ driver-scheduled
    * jobs. Top-level fits (the primary build, the super fit) keep
    * MLlib — their fit sets warrant a cluster scan and their k can
    * reach 4096 where kmeans||'s distributed init earns its keep.
    *
    * Deterministic by construction: the collected sample is sorted by
    * id (partition-layout independent), init is seeded k-means++
    * (D² sampling), iterations are order-stable, and empty clusters
    * re-seed deterministically from the farthest point. Quality is
    * the same algorithm family as MLlib's (k-means++ init + Lloyd's);
    * the recall gates (`v_ann_ivf` ≥ 0.8) hold unchanged.
    *
    * Driver-safe in AGGREGATE, not just per fit: [[FitPool.Size]]
    * concurrent fits each collecting 100k high-dim vectors would hold
    * tens of GB of samples on the driver at once, so the collect+fit
    * runs under [[FitPool.withSampleBudget]] — the estimated sample
    * footprint (`dimHint` doubles per component, ×3 for the boxed Row
    * form the collect materializes first) is acquired from the shared
    * heap-quarter budget before the collect and released after the
    * fit. `dimHint` comes from the caller's centroid (always at hand
    * at the fan-out sites); 0 falls back to a conservative 1024.
    */
  private[graft] def fitCentroidsLocal(df: DataFrame, idCol: String, k: Int,
      known: Long, seed: Long, maxIter: Int,
      maxFitRows: Long, dimHint: Int = 0): Array[Array[Double]] = {
    val target = math.max(maxFitRows, 16L * k)
    val sampleRows = math.min(math.max(known, 1L), target)
    val estBytes = sampleRows *
      (if (dimHint > 0) dimHint else 1024).toLong * 8L * 3L
    FitPool.withSampleBudget(estBytes) {
      fitCentroidsLocalUngated(df, idCol, k, known, seed, maxIter, target)
    }
  }

  private def fitCentroidsLocalUngated(df: DataFrame, idCol: String, k: Int,
      known: Long, seed: Long, maxIter: Int,
      target: Long): Array[Array[Double]] = {
    val fitSet =
      if (known <= target) df
      else df.filter(hashKeep(col(idCol),
        math.max(1L, (target * 1000000L) / known)))
    val rows = fitSet.select(col(idCol).cast("string"), col("__features"))
      .collect()
      .sortBy(_.getString(0))
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](1).toArray)
    require(rows.nonEmpty, "fitCentroidsLocal: empty fit set")
    val kk = math.min(k, rows.length)
    val d = rows(0).length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < d) { val r = a(j) - b(j); s += r * r; j += 1 }
      s
    }
    // k-means++ init: D² sampling over the sorted sample
    val centers = new Array[Array[Double]](kk)
    centers(0) = rows(rnd.nextInt(rows.length)).clone()
    val minD2 = rows.map(d2(_, centers(0)))
    var c = 1
    while (c < kk) {
      val total = minD2.sum
      var pick = 0
      if (total <= 0) pick = rnd.nextInt(rows.length)
      else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < rows.length - 1 && r > minD2(i)) { r -= minD2(i); i += 1 }
        pick = i
      }
      centers(c) = rows(pick).clone()
      var i = 0
      while (i < rows.length) {
        val nd = d2(rows(i), centers(c))
        if (nd < minD2(i)) minD2(i) = nd
        i += 1
      }
      c += 1
    }
    // Lloyd's, order-stable ties (first center wins)
    val assign = new Array[Int](rows.length)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < rows.length) {
        var best = 0; var bd = Double.PositiveInfinity
        var cc = 0
        while (cc < kk) {
          val dd = d2(rows(i), centers(cc))
          if (dd < bd) { bd = dd; best = cc }
          cc += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.ofDim[Double](kk, d)
      val counts = new Array[Long](kk)
      i = 0
      while (i < rows.length) {
        val a = assign(i); counts(a) += 1
        var j = 0
        while (j < d) { sums(a)(j) += rows(i)(j); j += 1 }
        i += 1
      }
      var cc = 0
      while (cc < kk) {
        if (counts(cc) > 0) {
          var j = 0
          while (j < d) { centers(cc)(j) = sums(cc)(j) / counts(cc); j += 1 }
        } else {
          // deterministic re-seed: the point farthest from its center
          var far = 0; var fd = -1.0
          var ii = 0
          while (ii < rows.length) {
            val dd = d2(rows(ii), centers(assign(ii)))
            if (dd > fd) { fd = dd; far = ii }
            ii += 1
          }
          centers(cc) = rows(far).clone()
          moved = true
        }
        cc += 1
      }
      iter += 1
    }
    centers
  }

  /** Past this leaf count [[build]] dispatches to the hierarchical
    * fit: MLlib's one-shot k-means grinds in its driver-local init
    * well before this k (>30 min at k=12 288, minutes hierarchically)
    * and only gets worse, while at/below it the one-shot fit is both
    * fast and the long-standing hash-gated behavior (every registry
    * build uses k ≤ 48, far under the threshold by construction).
    */
  val TwoLevelFitThreshold = 4096

  /** Fit + assign + bound. Returns (corpus exploded to one row per
    * (vector, assigned leaf) — 2 rows per vector, `leaf_id` column —
    * and the final model).
    *
    * Leaf counts at or past [[TwoLevelFitThreshold]] dispatch to
    * [[buildTwoLevel]] — the one-shot fit is a measured scale wall
    * there, and a caller asking for 10⁵ leaves should get the path
    * that can build them. `numLeaves` becomes a rounding target under
    * that dispatch (see [[buildTwoLevel]]).
    */
  def build(emb: DataFrame, id: String, vecCol: String, numLeaves: Int,
      seed: Long = 42L, maxIter: Int = 10, maxFitRows: Long = 100000L,
      maxLeafSize: Int = DefaultMaxLeafSize, spill: Int = 2,
      maxSplitRounds: Int = 3): (DataFrame, Model) = {
    require(maxLeafSize > 0, s"maxLeafSize must be positive, got $maxLeafSize")
    if (numLeaves >= TwoLevelFitThreshold)
      return buildTwoLevel(emb, id, vecCol, numLeaves, seed, maxIter,
        maxFitRows, maxLeafSize, spill, maxSplitRounds)
    val (aug, n) = augmented(emb, vecCol)
    try {
      val cents0: Vector[Array[Double]] =
        fitCentroids(aug, id, numLeaves, n, seed, maxIter, maxFitRows).toVector
      finishBuild(aug, id, cents0, n, seed, maxIter, maxFitRows,
        maxLeafSize, spill, maxSplitRounds)
    } finally { aug.unpersist(); () }
  }

  /** Hierarchical fit for LARGE leaf counts — the scale sibling of
    * [[build]]. A single k-means at k ≥ ~10⁴ is not viable: MLlib's
    * k-means|| init runs a driver-LOCAL k-means over ~2k·steps
    * candidate points at full k (measured: a 250k-vector, k=12288
    * one-shot fit ground >30 min on 32 cores before being killed,
    * while this path fits the same corpus in minutes), and the fit
    * cost grows with k even when the sample doesn't. So fit the way
    * the index ROUTES: ~√L super-centroids first (small k, cheap),
    * partition the corpus by super, then fit each super's share of
    * the leaves independently — g concurrent small fits of k ≈ √L
    * each, every one over a bounded sample. Everything downstream
    * (assignment, leaf bound + splits, router, stats, sidecar) is the
    * SAME code as [[build]] via [[finishBuild]].
    *
    * `numLeaves` is a target: it is clamped to the corpus size (more
    * leaves than vectors is degenerate), and each super gets
    * round(share · L) leaves, so the total can differ by rounding.
    * Deterministic like [[build]] (hash samples, canonical fit
    * layout, per-super seeds).
    */
  def buildTwoLevel(emb: DataFrame, id: String, vecCol: String,
      numLeaves: Int, seed: Long = 42L, maxIter: Int = 10,
      maxFitRows: Long = 100000L, maxLeafSize: Int = DefaultMaxLeafSize,
      spill: Int = 2, maxSplitRounds: Int = 3,
      numGroups: Int = 0): (DataFrame, Model) = {
    require(maxLeafSize > 0, s"maxLeafSize must be positive, got $maxLeafSize")
    require(numLeaves >= 4, s"buildTwoLevel needs numLeaves >= 4, got " +
      s"$numLeaves — use build() for tiny indexes")
    val (aug, n) = augmented(emb, vecCol)
    try {
      // more leaves than vectors is degenerate (empty leaves carry
      // routing cost for nothing); clamp the target so sub-fit k
      // never exceeds its group's row count
      val targetL = math.min(numLeaves.toLong, n).toInt
      val g = if (numGroups > 0) numGroups
        else math.max(2, math.ceil(math.sqrt(targetL.toDouble)).toInt)
      val supers = fitCentroids(aug, id, g, n, seed, maxIter, maxFitRows)
      val grouped = withAssignments(aug,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(supers), 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // per-super row counts: g ≈ √L keys — a bounded driver map
        val counts = grouped.groupBy("__l1").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        import scala.concurrent.{Await, Future}
        import FitPool.ec
        val subFits = counts.keys.toSeq.sorted.map { s =>
          val ns = counts(s)
          val ks = math.max(1L,
            math.min(ns, math.round(targetL.toDouble * ns / n))).toInt
          // a share that rounds to ONE leaf needs no fit: the super
          // centroid (already the region's fitted center, and
          // deterministic) IS that leaf. MLlib also refuses k=1.
          if (ks <= 1) Future.successful(Array(supers(s)))
          else Future(fitCentroidsLocal(grouped.filter(col("__l1") === s),
            id, ks, ns, seed + 1000003L * (s + 1), maxIter, maxFitRows,
            dimHint = supers(s).length))
        }
        val cents0 = Await.result(Future.sequence(subFits),
          scala.concurrent.duration.Duration.Inf).flatten.toVector
        finishBuild(aug, id, cents0, n, seed, maxIter, maxFitRows,
          maxLeafSize, spill, maxSplitRounds)
      } finally { grouped.unpersist(); () }
    } finally { aug.unpersist(); () }
  }

  /** Shared build prep: cast + norm pass, empty/finiteness gates, the
    * MIPS augmentation, one persisted DataFrame. Returns (augmented
    * corpus, row count); the CALLER unpersists.
    */
  private def augmented(emb: DataFrame, vecCol: String): (DataFrame, Long) = {
    val withNorm = emb
      .withColumn("__v", col(vecCol).cast("array<double>"))
      .withColumn("__n2", aggregate(col("__v"), lit(0.0), (a, x) => a + x * x))
    // one pass for both the corpus size and the max squared norm
    val stats = withNorm.agg(count(lit(1)), max(col("__n2"))).head()
    if (stats.getLong(0) == 0L)
      throw new IllegalArgumentException(
        "cannot build an IVF index over an empty corpus")
    val (n, m2) = (stats.getLong(0), stats.getDouble(1))
    // free finiteness gate on the pass already run: any NaN/±Inf
    // component makes that row's squared norm NaN/+Inf, and Spark's
    // max treats NaN as greatest — so a single non-finite vector
    // anywhere in the corpus surfaces here. Failing fast beats
    // silently skipping rows at assignment (the NaN-skip convention
    // in NearestCentroids would drop them without a trace).
    if (!java.lang.Double.isFinite(m2))
      throw new IllegalArgumentException(
        "corpus contains non-finite vector components (NaN or Infinity); " +
          "clean or filter them before building an IVF index")
    val aug = withNorm
      .withColumn("__aux", sqrt(greatest(lit(m2) - col("__n2"), lit(0.0))))
      .withColumn("__features",
        array_to_vector(concat(col("__v"), array(col("__aux")))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (aug, n)
  }

  /** Everything after the initial centroid fit, shared verbatim by
    * [[build]] and [[buildTwoLevel]]: assignment, leaf-bound split
    * rounds, degenerate hash sub-split, stats, router attach.
    */
  private def finishBuild(aug: DataFrame, id: String,
      cents0: Vector[Array[Double]], n: Long, seed: Long, maxIter: Int,
      maxFitRows: Long, maxLeafSize: Int, spill: Int,
      maxSplitRounds: Int): (DataFrame, Model) = {
    {
      var cents: Vector[Array[Double]] = cents0
      val effSpill = math.min(spill, 2)

      // Per-leaf size summary in ONE aggregation pass, with the
      // per-leaf map kept DISTRIBUTED: the driver only ever needs the
      // OVERSIZED leaves (split/remap targets — a handful by
      // construction) plus two global aggregates, so collecting the
      // full leaf→size map would be an O(#leaves) driver structure
      // (#leaves grows with the corpus) used for nothing.
      final case class LeafSummary(oversized: Map[Int, (Long, Long)],
          nRows: Long, maxLeafRows: Long)
      def sizes(assigned: DataFrame): LeafSummary = {
        val row = assigned
          .select(posexplode(when(col("__l2").isNotNull,
            array(col("__l1"), col("__l2"))).otherwise(array(col("__l1"))))
            .as(Seq("__pos", "__leaf")))
          .groupBy("__leaf")
          .agg(count(lit(1)).as("total"),
            count(when(col("__pos") === 0, 1)).as("primary"))
          .agg(sum(col("total")).as("n_rows"),
            max(col("total")).as("max_leaf"),
            collect_list(when(col("total") > maxLeafSize,
              struct(col("__leaf"), col("total"), col("primary"))))
              .as("over"))
          .head()
        LeafSummary(
          row.getSeq[org.apache.spark.sql.Row](2)
            .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap,
          row.getLong(0), row.getLong(1))
      }

      // recursive split: re-fit k-means inside each oversized leaf.
      // The round's assignment is PERSISTED before the refits — each
      // per-leaf fit filters it, and without the cache every fit would
      // recompute the full corpus assignment (measured 150 s vs ~15 s
      // for a 50k-vector build with ~8 oversized leaves). The refits
      // are independent bounded-sample fits, so they run concurrently.
      var assigned = withAssignments(aug, cents, effSpill)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var summary = sizes(assigned)
      var round = 0
      var oversized = summary.oversized.keys.toSeq.sorted
      while (round < maxSplitRounds && oversized.nonEmpty) {
        val splittable = oversized.filter(l => summary.oversized(l)._2 >= 4)
        if (splittable.isEmpty) { round = maxSplitRounds } // only degenerate left
        else {
          val keep = cents.indices.filterNot(splittable.contains(_))
          import scala.concurrent.{Await, Future}
          import FitPool.ec
          val subFits = splittable.map { l =>
            val (total, nPrim) = summary.oversized(l)
            val kSub = math.max(2L, math.min(nPrim / 2,
              math.ceil(total / (0.7 * maxLeafSize)).toLong)).toInt
            Future(fitCentroidsLocal(assigned.filter(col("__l1") === l),
              id, kSub, nPrim, seed + 1 + l, math.min(maxIter, 5), maxFitRows,
              dimHint = cents(l).length))
          }
          val next = keep.map(cents).toVector ++
            Await.result(Future.sequence(subFits),
              scala.concurrent.duration.Duration.Inf).flatten
          // loud guard on the DRIVER-MEMORY bound for the centroid
          // matrix itself (~6.5 GB at the cap for 768-d augmented
          // doubles, plus Router.build's O(L·√L·d) final assignment —
          // ~1 min at the cap); probe-time routing is already
          // sublinear past Router.MinLeaves via the two-level router,
          // so the cap is the driver's matrix, not routing cost
          require(next.length <= (1 << 20),
            s"IVF split produced ${next.length} leaves (cap ${1 << 20}); " +
              "raise maxLeafSize")
          cents = next
          val nextAssigned = withAssignments(aug, cents, effSpill)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          assigned.unpersist()
          assigned = nextAssigned
          summary = sizes(assigned)
          oversized = summary.oversized.keys.toSeq.sorted
          round += 1
        }
      }

      // fallback for leaves k-means cannot separate (identical/degenerate
      // vectors): deterministic hash sub-split across centroid COPIES —
      // probes rank the copies adjacently, so recall is unchanged and the
      // physical leaf bound holds
      var l1 = col("__l1")
      var l2 = col("__l2")
      var remapped = false
      for (l <- oversized) {
        val parts = math.ceil(summary.oversized(l)._1 / (0.7 * maxLeafSize)).toInt
        val base = cents.length
        cents = cents ++ Vector.fill(parts - 1)(cents(l))
        val h = pmod(xxhash64(col(id)), lit(parts.toLong)).cast("int")
        def remap(c: Column): Column =
          when(c === l, when(h === 0, lit(l)).otherwise(lit(base - 1) + h))
            .otherwise(c)
        l1 = remap(l1)
        l2 = remap(l2)
        remapped = true
      }

      val indexed = assigned
        .withColumn("leaf_id",
          explode(when(col("__l2").isNotNull, array(l1, l2))
            .otherwise(array(l1))))
        .drop("__s", "__l1", "__l2", "__features", "__aux", "__v", "__n2")
      // build manifest stats fall out of passes already run: n from the
      // initial stats scan, row/leaf totals from the final summary.
      // Only the rare degenerate hash-remap invalidates the per-leaf
      // max, and only then is one extra aggregation spent recomputing it
      val nRows = summary.nRows
      val maxLeafRows =
        if (!remapped) summary.maxLeafRows
        else indexed.groupBy("leaf_id").count()
          .agg(max(col("count"))).head().getLong(0)
      // the assignment is a pure function of the (literal) centroids, so
      // recomputation after unpersist stays identical — no checkpoint
      // needed, and at 100 TB the caller's write is the materialization
      assigned.unpersist()
      // past Router.MinLeaves, attach the two-level router so probe
      // routing stays sublinear in the leaf count; below it the flat
      // scan is microseconds and the router would only add moving parts
      val router =
        if (cents.length >= Router.MinLeaves) Some(Router.build(cents.toArray))
        else None
      (indexed, Model(cents.toArray, BuildStats(n, nRows, maxLeafRows), router))
    }
  }

  /** Map-side leaf assignment against FIXED (d-dim) centroids by max
    * dot product — a pure codegen expression (argmax via
    * array_position), no MLlib, no shuffle. First occurrence wins
    * ties, so assignment is deterministic and exactly reproducible by
    * the SQL oracle.
    */
  def leafExpr(vec: Column, centroids: Seq[Array[Double]]): Column = {
    val scores = array(centroids.map(c =>
      graft.functions.vectors.dotProduct(vec, typedLit(c.toSeq))): _*)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Map-side leaf assignment against FIXED centroids by the minimal
    * model-geometry ranking term |c|² − 2·x·c (first-min tie via
    * array_position) — the min-L2 sibling of [[leafExpr]], shared by
    * the fixed-centroid SQL gates (v_ann_sql, the E2E index cache,
    * v_ivfpq_search) so assignment and probe provably use ONE
    * geometry: a tie-break or cast fix lands in all of them at once.
    * Returns the 0-based centroid index as a long.
    */
  def leafExprMinL2(vec: Column, centroids: Seq[Array[Double]]): Column = {
    val scores = array(centroids.map { c =>
      val cn = c.map(x => x * x).sum
      lit(cn) - lit(2.0) * graft.functions.vectors.dotProduct(
        vec, typedLit(c.toSeq))
    }: _*)
    array_position(scores, array_min(scores)) - 1
  }

  /** Fit k sub-centroids INSIDE one leaf for an incremental split
    * ([[graft.streaming.IndexMaintenance.rebalanceOverflow]]): a
    * bounded-sample k-means over the leaf's raw vectors, each fitted
    * centroid re-augmented with the PARENT's aux component. Subs
    * therefore differ only in the data dimensions — the region keeps
    * the parent's external ranking position (which queries reach it)
    * while subdividing internally with exact d-dim geometry — and no
    * build-time max-norm is needed (the layout does not store one).
    * Nearest-sub assignment over raw vectors via [[leafExprMinL2]] is
    * EXACT under this convention: the shared aux component adds the
    * same constant to every sub's score. The periodic
    * [[graft.streaming.IndexMaintenance.recluster]] re-fits the
    * augmentation exactly; this is the localized approximation in
    * between, same trade as the build's degenerate hash sub-split
    * (centroid copies rank adjacently).
    */
  private[graft] def splitLeafCentroids(leafRows: DataFrame, id: String,
      vecCol: String, parent: Array[Double], k: Int, n: Long, seed: Long,
      maxFitRows: Long = 100000L): Array[Array[Double]] = {
    val feat = leafRows
      .withColumn("__v", col(vecCol).cast("array<double>"))
      .withColumn("__features",
        array_to_vector(concat(col("__v"), array(lit(0.0)))))
    fitCentroidsLocal(feat, id, k, n, seed, maxIter = 5, maxFitRows,
        dimHint = parent.length)
      .map { c => c(c.length - 1) = parent(parent.length - 1); c }
  }

  /** Persist the index clustered by leaf — leaf scan = partition scan.
    * Data rows only; prefer the (indexed, path, model) overload, which
    * also persists the model sidecar so the index is a DURABLE
    * resource a fresh session can reopen (the reference's index
    * outlives its builder process —
    * /root/reference/vector_store/utils/index_manager.py:36-68 creates
    * it, rag/search.py queries it from a separate process).
    */
  def write(indexed: DataFrame, path: String): Unit =
    // co-partition by leaf before the partitioned write: without it,
    // EVERY task holding rows of a leaf emits its own file — up to
    // tasks × leaves small files (measured ~25k files for 12k leaves;
    // the object-store death spiral at 100 TB). Hashed on leaf_id,
    // each leaf lands wholly in one task → exactly one file per leaf,
    // and tasks still parallelize across the leaf set. The one
    // shuffle this adds is the standard price of a compact layout
    // (what Delta OPTIMIZE / repartition-before-write does).
    indexed.repartition(col("leaf_id"))
      .write.mode("overwrite").partitionBy("leaf_id").parquet(path)

  /** Persist index data + model sidecar + file manifest: the complete
    * reopenable index. The manifest ([[ServingManifest]]) lets a
    * serving session open the layout without listing its leaf
    * directories; rebuilding it here is one listing pass over a
    * layout this call just wrote.
    */
  def write(indexed: DataFrame, path: String, model: Model): Unit = {
    write(indexed, path)
    writeModel(indexed.sparkSession, path, model)
    ServingManifest.rebuild(indexed.sparkSession, path)
  }

  /** Sidecar format version — load refuses a version it doesn't know
    * rather than misreading it. v2 added `n_centroids` to the stats
    * row so a partially-written chunked sidecar (crash between chunk
    * appends leaves a contiguous PREFIX that id-contiguity alone would
    * accept) fails loudly at load instead of serving truncated probes.
    */
  val ModelFormatVersion = 2

  /** The sidecar lives UNDER the index path with a `_`-prefixed name,
    * which Spark's file listing treats as hidden: `spark.read.parquet`
    * of the index keeps seeing only data rows, with or without the
    * sidecar.
    */
  private def modelDir(path: String): String = path + "/_graft_model"

  /** Write the model (centroids + router + BuildStats + format
    * version) as a small parquet sidecar. Written through Spark so it
    * lands on the same filesystem as the data (HDFS/S3 at scale, not
    * driver-local disk); one file, driver-sized content.
    */
  def writeModel(spark: SparkSession, path: String, model: Model): Unit = {
    import spark.implicits._
    val st = model.stats
    val statsRow = ("stats", -1, Seq.empty[Double], -1,
      st.nVectors, st.nRows, st.maxLeafRows, ModelFormatVersion,
      model.centroids.length)
    val superRows = model.router.toSeq.flatMap { r =>
      r.superCentroids.zipWithIndex.toSeq.map { case (c, i) =>
        ("super", i, c.toSeq, r.oversample, -1L, -1L, -1L,
          ModelFormatVersion, -1)
      }
    }
    // centroid rows are written in bounded CHUNKS: the boxed tuple
    // rows cost several times the raw matrix, so materializing all L
    // at once multiplies the driver's peak footprint near the leaf cap
    val chunks = model.centroids.indices.grouped(1 << 16).toSeq
    chunks.zipWithIndex.foreach { case (ids, ci) =>
      val rows = ids.map { i =>
        ("centroid", i, model.centroids(i).toSeq,
          model.router.map(_.groupOf(i)).getOrElse(-1),
          -1L, -1L, -1L, ModelFormatVersion, -1)
      } ++ (if (ci == 0) superRows :+ statsRow else Nil)
      rows.toDF("kind", "id", "vec", "grp",
          "n_vectors", "n_rows", "max_leaf_rows", "format_version",
          "n_centroids")
        .coalesce(1)
        .write.mode(if (ci == 0) "overwrite" else "append")
        .parquet(modelDir(path))
    }
  }

  /** Reopen a written index's model — the serving-side entry point: a
    * FRESH session (separate process in production) loads the sidecar
    * and can probe, search, and register the index without access to
    * the builder. Probe results are identical to the build-time model:
    * centroid doubles round-trip exactly through parquet, and the
    * router's grouping is persisted rather than recomputed.
    */
  def load(spark: SparkSession, path: String): Model = {
    // driver-side read (MetaIO): the sidecar is driver-sized by
    // definition (it is collected whole either way), and the
    // spark.read...collect() here cost one Spark job per open/append/
    // probe-catalog registration — pure scheduler overhead on the
    // serving lifecycle paths
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(modelDir(path))
    val fs = dir.getFileSystem(conf)
    val raw = MetaIO.read(conf, fs, dir,
      Seq("kind", "id", "vec", "grp", "n_vectors", "n_rows",
        "max_leaf_rows", "format_version", "n_centroids"))
    final case class MRow(kind: String, id: Int, vec: Array[Double],
      grp: Int, nVectors: Long, nRows: Long, maxLeafRows: Long,
      formatVersion: Int, nCentroids: Int)
    val rows = raw.map(r => MRow(r(0).asInstanceOf[String],
      r(1).asInstanceOf[Int], r(2).asInstanceOf[Array[Double]],
      r(3).asInstanceOf[Int], r(4).asInstanceOf[Long],
      r(5).asInstanceOf[Long], r(6).asInstanceOf[Long],
      r(7).asInstanceOf[Int], r(8).asInstanceOf[Int]))
    val byKind = rows.groupBy(_.kind)
    val centRows = byKind.getOrElse("centroid",
      throw new IllegalStateException(
        s"no centroids in model sidecar at ${modelDir(path)}"))
      .sortBy(_.id)
    require(centRows.zipWithIndex.forall { case (r, i) => r.id == i },
      s"model sidecar at ${modelDir(path)} has non-contiguous centroid ids")
    val statsRow = byKind.getOrElse("stats",
      throw new IllegalStateException(
        s"no stats row in model sidecar at ${modelDir(path)}")).head
    val version = statsRow.formatVersion
    require(version == ModelFormatVersion,
      s"model sidecar format v$version at ${modelDir(path)}; " +
        s"this build reads v$ModelFormatVersion")
    // the chunked write is not atomic: a crash between chunk appends
    // leaves a CONTIGUOUS centroid prefix that the id check alone
    // accepts. The stats row (always in chunk 0) carries the total.
    val nCentroids = statsRow.nCentroids
    require(centRows.length == nCentroids,
      s"model sidecar at ${modelDir(path)} is truncated: " +
        s"${centRows.length} of $nCentroids centroid rows present " +
        "(crash during chunked write?) — rebuild or rewrite the sidecar")
    val cents = centRows.map(_.vec).toArray
    val stats = BuildStats(statsRow.nVectors, statsRow.nRows,
      statsRow.maxLeafRows)
    val router = byKind.get("super").map { srs =>
      val sorted = srs.sortBy(_.id)
      Router(sorted.map(_.vec).toArray,
        centRows.map(_.grp).toArray, sorted.head.grp)
    }
    Model(cents, stats, router)
  }

  /** Distributed probe-list expression for a BATCH of query rows:
    * array<int> of `model.topLeaves(vec, nProbe)` per row, computed on
    * the executors with the centroid matrix (and router) riding along
    * as codegen reference objects — the million-query batch path. The
    * branch choice mirrors `topLeaves` exactly: the two-level routed
    * expression when the router engages (sublinear in leaf count),
    * the flat top-n expression otherwise, identical probe lists
    * either way (RoutedProbeSpec asserts row-for-row equality).
    */
  def probeExpr(model: Model, vec: Column, nProbe: Int): Column = {
    import org.apache.spark.sql.graftshim.Shims
    val v = Shims.expression(vec)
    val aux = Shims.expression(lit(0.0))
    model.router match {
      case Some(r) if model.routed(r, nProbe) =>
        Shims.column(graft.functions.RoutedNearestCentroids(v, aux,
          model.centroids, r.superCentroids, r.groups, r.oversample, nProbe))
      case _ =>
        Shims.column(graft.functions.NearestCentroids(v, aux,
          model.centroids, nProbe))
    }
  }

  /** [[probeExpr]] restructured for very large leaf counts: the
    * centroid matrix ships as a BROADCAST of flat-packed float32
    * ([[graft.functions.RouterData]]) — fetched once per executor and
    * shared across tasks, where [[probeExpr]]'s reference object is
    * re-deserialized by EVERY task (at 10⁶ leaves that is a ~0.5 GB
    * task binary × task slots: measured OOM on an 8 GB executor at
    * 32 slots). Probe lists are NOT bit-identical to [[probeExpr]]:
    * float32 quantization can flip near-tied centroid rankings
    * (parity ≥0.99 — RoutedProbeSpec),
    * so hash-gated paths keep using [[probeExpr]]; this is the
    * serving path past ~10⁵ leaves. Falls back to the exact flat
    * expression when the router doesn't engage — below that size the
    * double matrix is small and exactness is free.
    */
  def probeExprF32(model: Model, vec: Column, nProbe: Int): Column = {
    import org.apache.spark.sql.graftshim.Shims
    val v = Shims.expression(vec)
    val aux = Shims.expression(lit(0.0))
    model.router match {
      case Some(r) if model.routed(r, nProbe) =>
        Shims.column(graft.functions.RoutedNearestCentroidsF32(v, aux,
          model.routerDataBc, r.oversample, nProbe))
      case _ =>
        Shims.column(graft.functions.NearestCentroids(v, aux,
          model.centroids, nProbe))
    }
  }

  /** Leaf-pruned exact search over the persisted index. */
  def search(spark: SparkSession, path: String, model: Model,
      query: Array[Double], nProbe: Int, k: Int,
      id: String, vecCol: String): DataFrame =
    searchDf(spark.read.parquet(path), model, query, nProbe, k, id, vecCol)

  /** In-memory variant (no round-trip) for tests/benchmarks. Spill
    * duplicates inside the probed set collapse to one candidate per id
    * (the lowest leaf_id among its equal-score copies).
    */
  def searchDf(indexed: DataFrame, model: Model, query: Array[Double],
      nProbe: Int, k: Int, id: String, vecCol: String): DataFrame =
    bareTail(indexed.filter(
        col("leaf_id").isin(model.topLeaves(query, nProbe): _*)),
      dot(vecCol, query), k, id)

  /** The FULL serving shape as a Scala API — everything the SQL E2E
    * gate (`v_ann_sql_e2e`) expresses in text, row-for-row
    * (ServingApiSpec): leaf-pruned candidates → restrict predicates
    * (the reference's categorical/numeric filters,
    * setup_vector_search.py:45-62 — plain `Column` predicates here,
    * sitting directly on the scan so parquet pushes them to
    * row-group granularity) → crowding cap per attribute value
    * (CrowdingTag, setup_vector_search.py:65-67) → partial-aggregate
    * top-k → metadata join (the Firestore-lookup analog,
    * firestore_ops.py:69).
    *
    * Plan ([[servingTail]]): the probed scan scores in parallel and
    * each scan task keeps its own top-k (one partial
    * [[graft.functions.TopKCrowded]]), so at most k rows per task cross
    * ONE exchange into a single partition, where the final top-k runs.
    * A metadata table that is a [[smallTable]] is broadcast, so the
    * rank order is a local sort. A larger one is never collected or
    * shuffled: the ≤ k ranked rows are broadcast into its scan, and the
    * joined rows take one more exchange into a single partition for the
    * rank sort.
    *
    * @param restricts predicates over the index table's own columns;
    *        ANDed. Keep them on top-level columns so they reach
    *        `PushedFilters`.
    * @param crowding (attribute column, max results per value).
    * @param metadata (metadata table, join key) — appended columns.
    * Output: (id, metadata columns…, score, rank), rank 1-based by
    * (score desc, id); a null score ranks last.
    */
  def searchDf(indexed: DataFrame, model: Model, query: Array[Double],
      nProbe: Int, k: Int, id: String, vecCol: String,
      restricts: Seq[Column], crowding: Option[(String, Int)],
      metadata: Option[(DataFrame, String)]): DataFrame =
    servingTail(restricts.foldLeft(indexed.filter(
        col("leaf_id").isin(model.topLeaves(query, nProbe): _*)))(_ filter _),
      dot(vecCol, query), k, id, crowding, metadata)

  private[operators] def dot(vecCol: String, query: Array[Double]): Column =
    graft.functions.vectors.dotProduct(col(vecCol), typedLit(query.toSeq))

  /** The widest probe that reaches the scan as a literal leaf_id
    * In-list: partition pruning then reads only those leaves. */
  private[operators] val MaxInList = 1024

  /** A single request broadcasts a metadata table built on the
    * driver ([[smallTable]]) only when its at most [[MaxSingleFiles]]
    * files hold at most this many rows; at 65,536 rows that measured no
    * slower than broadcasting the ranked rows into the table's scan
    * (4 cpus). An in-memory batch of at most this many (query, leaf)
    * rows routes on the driver ([[Serving]]'s probe frame). */
  private[operators] val MaxSingleRows = 65536L
  private[operators] val MaxSingleFiles = 64

  /** Footer row counts by (path, length, modification time). Data
    * files are written once, so each footer is read once per process
    * (a cold read measured ~9 ms per file). */
  private val footerRows = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), java.lang.Long]()

  /** `df`'s parquet scan when `df` is that scan under projections and
    * filters only, so it reads no more rows than the scan's files. */
  private def plainScan(df: DataFrame): Option[HadoopFsRelation] = {
    val plan = df.queryExecution.analyzed
    val plain = plan.find {
      case _: Project | _: Filter | _: SubqueryAlias | _: LogicalRelation =>
        false
      case _ => true
    }.isEmpty
    plan.collectFirst { case lr: LogicalRelation if plain => lr.relation }
      .collect {
        case r: HadoopFsRelation
            if r.fileFormat.isInstanceOf[ParquetFileFormat] => r
      }
  }

  /** Whether the files of `r` that `partitionFilters` keep fit
    * [[MaxSingleFiles]] and, by their footers, [[MaxSingleRows]]. */
  private def fewRows(r: HadoopFsRelation,
      partitionFilters: Seq[Expression]): Boolean = {
    val files = r.location.listFiles(partitionFilters, Nil).flatMap(_.files)
    val conf = r.sparkSession.sparkContext.hadoopConfiguration
    if (footerRows.size > (1 << 16)) footerRows.clear()
    files.length <= MaxSingleFiles && files.iterator
      .scanLeft(0L)((sum, f) => sum + footerRows.computeIfAbsent(
        (f.getPath.toString, f.getLen, f.getModificationTime),
        _ => MetaIO.fileRowCount(conf, f.getPath)))
      .forall(_ <= MaxSingleRows)
  }

  /** Whether a request may broadcast the metadata table itself: a
    * plain scan of [[fewRows]]. */
  private def smallTable(meta: DataFrame): Boolean =
    plainScan(meta).exists(fewRows(_, Nil))

  /** The ONE ranking step of every serving tail and of the kNN join:
    * per group of `groups` (none: one global group, a single request),
    * ONE partial [[graft.functions.TopKCrowded]] keeps the top `k` by
    * (score desc, id) — spill copies one id, at most `cap` per value of
    * `crowd`'s attribute; with a `shortlist` (score, m), only the m
    * best ids by that score — so at most k (m) rows per group leave
    * each scan task. Output: groups…, id, score[, `__attr`: the served
    * copy's attribute], rn (1-based).
    */
  private[operators] def top(pairs: DataFrame, groups: Seq[String],
      id: String, score: Column, k: Column,
      crowd: Option[(Column, Column)] = None,
      shortlist: Option[(Column, Int)] = None): DataFrame = {
    val g = groups.map(col)
    // scored in a (codegen) projection, not per row inside the aggregate
    pairs.withColumn("__s", score).groupBy(g: _*)
      .agg(graft.functions.TopKCrowded.column(col("__s"), col(id),
        crowd.map(_._1), k, crowd.fold(lit(Int.MaxValue))(_._2), shortlist)
        .as("__top"))
      .select(g :+ posexplode(col("__top")).as(Seq("__pos", "__t")): _*)
      .select(g ++ Seq(col("__t.id").as(id), col("__t.score").as("score")) ++
        crowd.map(_ => col("__t.attr").as("__attr")) :+
        (col("__pos") + 1).cast("bigint").as("rn"): _*)
  }

  /** The BARE single-request tail: [[top]] as one global group, with
    * `leaf_id` an uncapped attribute so each id keeps its served copy's
    * leaf (the lowest of equal-score spill copies) → (id, leaf_id,
    * `scoreName`) by (score desc, id). */
  private[operators] def bareTail(candidates: DataFrame, score: Column,
      k: Int, id: String, scoreName: String = "score",
      shortlist: Option[(Column, Int)] = None): DataFrame =
    top(candidates, Nil, id, score, lit(k),
        Some((col("leaf_id"), lit(Int.MaxValue))), shortlist)
      .orderBy("rn")
      .select(col(id), col("__attr").as("leaf_id"), col("score").as(scoreName))

  /** The ONE full single-request tail of the raw and coded surfaces
    * (the tier only changes `score`): [[top]] as one global group (spill
    * collapse, `shortlist` cut, crowding cap and top-k; ≤ k rows per
    * scan task through ONE exchange into a single partition) →
    * metadata join → rank order. The metadata join keeps the ranked
    * rows in one partition either way, so the rank order is a local
    * sort. Output as the 10-arg [[searchDf]].
    */
  private[operators] def servingTail(candidates: DataFrame, score: Column,
      k: Int, id: String, crowding: Option[(String, Int)],
      metadata: Option[(DataFrame, String)], scoreName: String = "score",
      shortlist: Option[(Column, Int)] = None): DataFrame = {
    val ranked = top(candidates, Nil, id, score, lit(k),
        crowding.map { case (attr, cap) => (col(attr), lit(cap)) }, shortlist)
      .withColumnRenamed("rn", "rank")
    (metadata match {
      case Some((meta, key)) =>
        val on = col(s"__r.$id") === col(s"__m.$key")
        val out = col(s"__r.$id") +: meta.columns.filterNot(_ == key)
          .map(c => col(s"__m.$c")) ++:
          Seq(col("__r.score").as(scoreName), col("__r.rank"))
        // a small table is broadcast: its scan runs beside the
        // candidate scan and the join keeps the ranked partition. A
        // larger one is scanned where it lives, with the ≤ k ranked
        // rows broadcast into it; only the joined rows move.
        if (smallTable(meta))
          ranked.as("__r").join(broadcast(meta.as("__m")), on)
            .select(out: _*)
        else
          meta.as("__m").join(broadcast(ranked.as("__r")), on)
            .select(out: _*).repartition(1)
      case None =>
        ranked.select(col(id), col("score").as(scoreName), col("rank"))
    }).orderBy("rank")
  }
}
