package graft.streaming

import graft.operators.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental ANN index maintenance — the full STREAM_UPDATE story
  * (/root/reference/vector_store/utils/index_manager.py:53): new
  * datapoints stream-append into the index log; reads resolve
  * last-write-wins; a periodic recluster pass re-fits the k-means
  * leaves and rewrites the partitioned index so query-time leaf
  * pruning stays balanced as the corpus drifts.
  *
  * Freshness has TWO tiers, mirroring the reference's
  * `upsert_datapoints` (new points searchable immediately, no index
  * rebuild — /root/reference/vector_store/setup_vector_search.py:149-153):
  * [[appendToServing]] assigns an upsert batch to the EXISTING leaves
  * with the index's own persisted model and appends straight into the
  * `partitionBy(leaf_id)` serving layout — new vectors are visible to
  * the next `graft_ann_probe` query with no rebuild; [[recluster]] is
  * the periodic rebalance that re-fits leaves and compacts superseded
  * versions away.
  *
  * At 100 TB: appends are cheap (new files under existing leaf
  * directories), the recluster is a scheduled batch job (sample-fit +
  * full assign), and readers always see a consistent snapshot
  * (parquet file listing is atomic enough per job; swap directories
  * for stronger guarantees).
  */
object IndexMaintenance {

  /** Append a micro-batch of (id, vector, version) upserts. */
  def appendBatch(batch: DataFrame, logPath: String): Unit =
    batch.write.mode("append").parquet(logPath)

  /** The delta registry: (id, version) of every upsert accepted into
    * the serving layout since the last recluster. Underscore-prefixed
    * so `spark.read.parquet(servePath)` keeps seeing only data rows;
    * wiped with the layout when [[recluster]] overwrites it.
    */
  private def deltaDir(servePath: String): String =
    servePath + "/_graft_delta"

  /** `batch` with its id column checked in-plan (the `checkedLimit`
    * convention of [[graft.operators.Serving]]): a null id raises
    * inside the write the caller already runs, before it lands in the
    * delta registry, where [[deltaWinners]] could not resolve it.
    */
  private def nonNullIds(batch: DataFrame, id: String, op: String): DataFrame =
    batch.withColumn(id, when(col(id).isNull, raise_error(lit(
      s"$op: null id in column '$id'"))).otherwise(col(id)))

  /** Upsert a batch into the SERVED index — no rebuild. The batch is
    * assigned to the index's EXISTING leaves with the model loaded
    * from the layout's own sidecar (top-`spill` ranked leaves, same
    * spill-copy convention as the build, via the distributed
    * [[IvfIndex.probeExpr]] — sublinear in leaf count past the router
    * threshold), appended under the matching `leaf_id=` partition
    * directories, and recorded in the delta registry that
    * [[readServing]] resolves last-write-wins against. Query-side
    * geometry (aux = 0) is deliberate: an appended vector lands
    * exactly in the leaves a probe for it would rank first.
    *
    * The batch must carry the layout's own data columns — parquet
    * `append` would otherwise silently interleave two schemas and
    * poison every later read.
    *
    * `keepVersions` is the snapshot-log RETENTION policy (the Delta
    * VACUUM analog, wired into the write path so an always-on serving
    * layout never grows its log unboundedly waiting for an operator
    * to remember): after the manifest reconcile, log versions no
    * longer needed to reconstruct the most recent `keepVersions`
    * snapshots are dropped ([[graft.operators.ServingManifest.truncate]]
    * — steady state ≤ keepVersions + CheckpointInterval small dirs).
    * ≤ 0 disables retention (keep every version forever).
    *
    * `textCol`: when the layout carries a LEXICAL sidecar
    * ([[graft.operators.Lexical]] — the hybrid-retrieval BM25 leg)
    * the upsert batch must also maintain it, or the hybrid surface
    * goes stale; pass the batch's text column and the append
    * tokenizes it into the sidecar's term-hash buckets and re-stamps
    * the sidecar to the post-append manifest version
    * ([[graft.operators.Lexical.appendStats]]). The column is
    * stripped before the vector write (it is not a layout column).
    * An append WITHOUT `textCol` on a sidecar-carrying layout is
    * allowed but leaves the sidecar stamped at the pre-append
    * version, and [[graft.operators.Serving.searchHybrid]] then
    * fails LOUDLY on the version skew rather than serving stale
    * BM25 scores.
    */
  def appendToServing(spark: SparkSession, servePath: String,
      batch: DataFrame, id: String, vecCol: String, versionCol: String,
      spill: Int = 2, keepVersions: Int = 64,
      textCol: Option[String] = None): Unit = {
    textCol.foreach { tc =>
      require(batch.columns.contains(tc),
        s"appendToServing: textCol '$tc' is not a batch column " +
          s"(${batch.columns.mkString(",")})")
      require(graft.operators.Lexical.hasStats(spark, servePath),
        s"appendToServing: textCol given but $servePath carries no " +
          "lexical sidecar — run Lexical.attach (or Serving.attachLexical) first")
    }
    val vecBatch = nonNullIds(textCol.map(batch.drop(_)).getOrElse(batch),
      id, "appendToServing")
    val model = IvfIndex.load(spark, servePath)
    val layoutCols = graft.operators.ServingManifest
      .layoutColumns(spark, servePath).sorted
    // a layout carrying the BQ sign-bit companion column derives it
    // HERE, from the appended vectors themselves — never from the
    // batch (a caller-supplied column could be stale and the
    // shortlist would silently rank re-embedded rows by their OLD
    // signs). Freshness is by construction, not convention.
    val coded =
      if (layoutCols.contains("bq_code"))
        vecBatch.withColumn("bq_code", graft.functions.bquant.packSigns(
          col(vecCol).cast("array<double>")))
      else vecBatch
    // probeExprF32: identical to probeExpr below the router threshold
    // (exact flat branch); past it the assignment matrix is broadcast
    // float32 — an upsert batch against a 10⁶-leaf index must not
    // ship per-task double-matrix copies
    // the assignment (a probeExprF32 pass over the batch) feeds THREE
    // consumers — the partitioned write, the touched-leaf list for the
    // manifest reconcile, and the certified-search radii merge —
    // persisted so it computes once instead of once per consumer (at
    // scale each recompute is a full batch × router pass)
    val assigned = coded
      .withColumn("leaf_id",
        explode(IvfIndex.probeExprF32(model,
          col(vecCol).cast("array<double>"), math.max(1, spill))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    require(assigned.columns.sorted.toSeq == layoutCols,
      s"appendToServing: batch columns ${batch.columns.sorted.mkString(",")} " +
        s"+ leaf_id do not match the serving layout's " +
        s"${layoutCols.mkString(",")}")
    // ONE shuffle of the batch (∝ batch, never the layout) before the
    // partitioned write: unrepartitioned, every upstream task writes
    // one file per leaf it happens to hold — measured 7,729 files for
    // a 10k-row append over 64 leaves (round 15, the `bqfull` mode of
    // `git show 89d9bee:src/main/scala/graft/ScaleProbe.scala`),
    // which bloats the manifest by thousands of entries PER APPEND and
    // makes every appendage-scoped probe pay thousands of footer
    // opens. Repartitioned, files ≈ touched leaves.
    assigned.repartition(col("leaf_id"))
      .write.mode("append").partitionBy("leaf_id").parquet(servePath)
    batch.select(col(id), col(versionCol).cast("long").as("version"),
        lit(false).as("tombstone"))
      .write.mode("append").parquet(deltaDir(servePath))
    // manifest upkeep proportional to the TOUCHED leaves (≤ batch ×
    // spill), never the layout — no-op on a pre-manifest layout
    graft.operators.ServingManifest.reconcile(spark, servePath,
      assigned.select("leaf_id").distinct().collect().map(_.getInt(0)).toSeq)
    // certified-search radii (if opted in): max-merge the touched
    // leaves so the ball bounds stay admissible through the append
    graft.operators.CertifiedSearch.mergeAppend(spark, servePath,
      assigned, vecCol)
    if (keepVersions > 0) {
      graft.operators.ServingManifest.truncate(spark, servePath,
        keepVersions)
      ()
    }
    } finally { assigned.unpersist(); () }
    // lexical leg of the upsert: tokenize the batch into the sidecar
    // buckets and re-stamp to the version the reconcile just installed
    textCol.foreach { tc =>
      val mv = graft.operators.ServingManifest.versions(spark, servePath)
        .lastOption.getOrElse(0)
      graft.operators.Lexical.appendStats(spark, servePath,
        batch.select(col(id), col(tc), col(versionCol)),
        id, tc, versionCol, mv)
    }
  }

  /** DELETE ids from the SERVED index — the removal half of the
    * STREAM_UPDATE lifecycle (the reference's index type also takes
    * datapoint removals through the same streaming surface its
    * upserts use): a TOMBSTONE row (id, version, tombstone=true) is
    * appended to the delta registry, and [[readServing]]'s LWW
    * resolution drops every data row whose id's latest delta entry
    * is a tombstone. No data file is touched and no manifest changes
    * — a delete is one tiny registry append regardless of corpus
    * size, exactly the economics an always-on index needs. The
    * deleted rows disappear PHYSICALLY at the next [[compactServing]]
    * or [[recluster]] (both materialize the resolved view), which
    * also clears the registry.
    *
    * LWW semantics are symmetric with upserts: a later upsert
    * (higher version) RESURRECTS the id; on a version TIE the
    * tombstone wins (deterministic — see [[readServing]]). Works
    * unchanged on raw and PQ-coded layouts (the registry is shared).
    *
    * `tombstones` carries (id, version) — the version is the delete
    * operation's own LWW stamp, same monotonic clock the upsert
    * stream uses.
    */
  def removeFromServing(spark: SparkSession, servePath: String,
      tombstones: DataFrame, id: String, versionCol: String): Unit = {
    nonNullIds(tombstones, id, "removeFromServing")
      .select(col(id), col(versionCol).cast("long").as("version"),
        lit(true).as("tombstone"))
      .write.mode("append").parquet(deltaDir(servePath))
  }

  /** [[appendToServing]] for a PQ-CODED layout (the memory-resident
    * serving tier — `v_ivfpq_search`'s shape made durable): the batch
    * arrives as raw vectors, is assigned to the EXISTING leaves with
    * the model from the layout's `_graft_model` sidecar AND encoded
    * to packed PQ codes with the codebook from its `_graft_pq`
    * sidecar, then appended WITHOUT the raw vector — the layout stays
    * 4 B/vector. Both sidecars reopen from the path alone, so a
    * fresh serving session can take upserts with no corpus access and
    * no refit; LWW rides the same delta registry as the raw layout.
    *
    * The frozen-codebook convention is PQ-standard (FAISS
    * IndexIVFPQ.add encodes with the trained codebook): drift is
    * handled by the periodic recluster/re-fit, not per batch.
    */
  def appendCodedToServing(spark: SparkSession, servePath: String,
      batch: DataFrame, id: String, vecCol: String, versionCol: String,
      spill: Int = 1, keepVersions: Int = 64): Unit = {
    val model = IvfIndex.load(spark, servePath)
    val cb = graft.operators.ProductQuantizer.loadCodebook(spark, servePath)
    val layoutCols = graft.operators.ServingManifest
      .layoutColumns(spark, servePath).sorted
    val v = col(vecCol).cast("array<double>")
    // an OPQ layout rotates before encoding (codebooks live in the
    // rotated space); leaf ASSIGNMENT stays in raw space — the model
    // centroids are unrotated, like the build that wrote them
    val encIn = graft.operators.ProductQuantizer.loadRotation(spark,
        servePath)
      .map(r => graft.operators.ProductQuantizer.rotateExpr(v, r))
      .getOrElse(v)
    // persisted: the assignment+encode pass feeds both the write and
    // the touched-leaf reconcile (see appendToServing)
    val assigned = nonNullIds(batch, id, "appendCodedToServing")
      .withColumn("leaf_id",
        explode(IvfIndex.probeExprF32(model, v, math.max(1, spill))))
      .withColumn("pq_code",
        graft.operators.ProductQuantizer.encodeExpr(encIn, cb))
      .drop(vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    require(assigned.columns.sorted.toSeq == layoutCols,
      s"appendCodedToServing: batch columns " +
        s"${batch.columns.sorted.mkString(",")} encoded to " +
        s"${assigned.columns.sorted.mkString(",")} do not match the " +
        s"coded layout's ${layoutCols.mkString(",")}")
    // one shuffle before the partitioned write (see appendToServing)
    assigned.repartition(col("leaf_id"))
      .write.mode("append").partitionBy("leaf_id").parquet(servePath)
    batch.select(col(id), col(versionCol).cast("long").as("version"),
        lit(false).as("tombstone"))
      .write.mode("append").parquet(deltaDir(servePath))
    graft.operators.ServingManifest.reconcile(spark, servePath,
      assigned.select("leaf_id").distinct().collect().map(_.getInt(0)).toSeq)
    if (keepVersions > 0) {
      graft.operators.ServingManifest.truncate(spark, servePath,
        keepVersions)
      ()
    }
    } finally { assigned.unpersist(); () }
  }

  /** [[appendToServing]] for an SQ8 (scalar-quantized) layout — the
    * middle rung of the coded-tier ladder: 1 byte/dim + one scale
    * per vector (≈66 B at dim 64 vs 256 B raw vs 4 B PQ), with NO
    * trained artifact at all — the scale is per-row (max |vᵢ|), so
    * appends need only the IVF model sidecar for leaf assignment and
    * can never drift from a stale codebook. Scoring stays exact
    * integer arithmetic ([[graft.functions.SqDot]]) rescaled by the
    * two scales — bit-reproducible across engines and partitionings,
    * which is why the whole tier can be hash-gated. LWW rides the
    * same delta registry as every other tier.
    */
  def appendSqToServing(spark: SparkSession, servePath: String,
      batch: DataFrame, id: String, vecCol: String, versionCol: String,
      spill: Int = 1, keepVersions: Int = 64): Unit = {
    val model = IvfIndex.load(spark, servePath)
    val layoutCols = graft.operators.ServingManifest
      .layoutColumns(spark, servePath).sorted
    val v = col(vecCol).cast("array<double>")
    // persisted: the assignment+quantize pass feeds both the write
    // and the touched-leaf reconcile (see appendToServing)
    val assigned = nonNullIds(batch, id, "appendSqToServing")
      .withColumn("leaf_id",
        explode(IvfIndex.probeExprF32(model, v, math.max(1, spill))))
      .withColumn("ma", graft.functions.quantize.maxAbs(v))
      .withColumn("sq_code", graft.functions.quantize.packCodes(
        graft.functions.quantize.codes(v, col("ma"))))
      .drop(vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    require(assigned.columns.sorted.toSeq == layoutCols,
      s"appendSqToServing: batch columns " +
        s"${batch.columns.sorted.mkString(",")} quantized to " +
        s"${assigned.columns.sorted.mkString(",")} do not match the " +
        s"SQ layout's ${layoutCols.mkString(",")}")
    // one shuffle before the partitioned write (see appendToServing)
    assigned.repartition(col("leaf_id"))
      .write.mode("append").partitionBy("leaf_id").parquet(servePath)
    batch.select(col(id), col(versionCol).cast("long").as("version"),
        lit(false).as("tombstone"))
      .write.mode("append").parquet(deltaDir(servePath))
    graft.operators.ServingManifest.reconcile(spark, servePath,
      assigned.select("leaf_id").distinct().collect().map(_.getInt(0)).toSeq)
    if (keepVersions > 0) {
      graft.operators.ServingManifest.truncate(spark, servePath,
        keepVersions)
      ()
    }
    } finally { assigned.unpersist(); () }
  }

  /** Serving-time read of the layout: data rows with superseded
    * versions resolved away and TOMBSTONED ids dropped,
    * last-write-wins against the delta registry
    * ([[removeFromServing]] for delete semantics). The LWW authority
    * is the DELTA (small by construction
    * — only upserts since the last recluster; the join stays
    * broadcast-sized), not a full-corpus aggregate, so a
    * `graft_ann_probe` filter on top still partition-prunes: the
    * leaf In-list pushes through the left join to the parquet scan.
    * A stale copy is never served, even when the superseding row
    * lives in an unprobed leaf.
    */
  def readServing(spark: SparkSession, servePath: String, id: String,
      versionCol: String): DataFrame = {
    // manifest-backed open when the layout carries one (no directory
    // listing; same rows, same pruning), plain listing read otherwise
    val data = graft.operators.ServingManifest.openOrRead(spark, servePath)
    deltaWinners(spark, servePath, Some(id)) match {
      case None => data
      case Some(latest) =>
        // the winners frame is a driver-built LocalRelation: the
        // broadcast build is a driver-side collect of local rows —
        // no scan stage, no shuffle, no broadcast-exchange job
        data.join(broadcast(latest), data(id) === col("__id"), "left")
          .filter(col("__latest").isNull ||
            (col(versionCol).cast("long") === col("__latest") &&
              !col("__tomb")))
          .drop("__id", "__latest", "__tomb")
    }
  }

  /** The delta registry's LWW verdict per id — (__id, __latest,
    * __tomb), one row per upserted/deleted id; None when the layout
    * has no registry. Winner per id = max (version, tombstone)
    * struct: highest version wins; on a version TIE the tombstone
    * wins (true > false) — deterministic, and the conservative
    * reading of a simultaneous write/delete. Shared authority for
    * [[readServing]]'s data rows and the lexical sidecar's postings
    * ([[graft.operators.Lexical.bm25FromStats]]) so the two surfaces
    * can never disagree about which generation of an id is live.
    */
  private[graft] def deltaWinners(spark: SparkSession,
      servePath: String, idHint: Option[String] = None): Option[DataFrame] = {
    import graft.operators.MetaIO
    val delta = new org.apache.hadoop.fs.Path(deltaDir(servePath))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = delta.getFileSystem(conf)
    if (!fs.exists(delta)) None
    else {
      // the registry is DRIVER-SIZED by construction (only upserts
      // since the last recluster — the broadcast-size assumption
      // readServing already makes), so the LWW fold runs on the
      // driver ([[MetaIO]]: per-file schemas handle the pre-tombstone
      // format natively) and the winners ship as a LocalRelation —
      // the join's broadcast build then costs no Spark job at all,
      // where the old groupBy-over-scan paid a shuffle + a scan stage
      // per consumer
      val cols = MetaIO.columnsOf(conf, fs, delta)
      // callers that know the layout id thread it — a registry whose
      // id column happens to be absent then fails loudly instead of
      // resolving against the wrong column; inference is the legacy
      // fallback for bare-path callers only
      val idCol = idHint match {
        case Some(n) =>
          require(cols.contains(n),
            s"delta registry at ${deltaDir(servePath)} lacks the layout " +
              s"id column '$n' (has ${cols.mkString(",")}) — " +
              "mixed registry schemas cannot be LWW-resolved")
          n
        case None => cols.filterNot(Set("version", "tombstone")).head
      }
      // the id type comes from the registry files' footers, not from
      // the folded values: an empty registry keeps its declared type,
      // and a registry that mixes int and long id files (widened mid-
      // stream) types as long, with int values widened so the same id
      // never splits across two keys
      val idType = MetaIO.columnType(conf, fs, delta, idCol)
        .getOrElse(org.apache.spark.sql.types.LongType)
      val widen = idType == org.apache.spark.sql.types.LongType
      val rows = MetaIO.read(conf, fs, delta,
        Seq(idCol, "version", "tombstone"))
      // winner per id = max (version, tombstone): highest version
      // wins; on a tie the tombstone (true > false) — identical to
      // the old max(struct(version, tombstone)) aggregate
      val m = scala.collection.mutable.HashMap.empty[Any, (Long, Boolean)]
      rows.foreach { r =>
        val k: Any = r(0) match {
          case null => throw new IllegalStateException(
            s"delta registry at ${deltaDir(servePath)}: null id in column " +
              s"'$idCol' — the registry cannot be LWW-resolved")
          case i: Int if widen => i.toLong
          case other => other
        }
        val v = r(1) match {
          case l: Long => l
          case i: Int => i.toLong
          case other => other.toString.toLong
        }
        val t = r(2) == true
        m.get(k) match {
          case Some((pv, pt)) if pv > v || (pv == v && (pt || !t)) => ()
          case _ => m(k) = (v, t)
        }
      }
      val folded = m.toSeq.map { case (k, (v, t)) => (k, v, t) }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__id", idType),
        org.apache.spark.sql.types.StructField("__latest",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__tomb",
          org.apache.spark.sql.types.BooleanType)))
      val outRows = new java.util.ArrayList[org.apache.spark.sql.Row](
        folded.length)
      // sorted for a deterministic LocalRelation row order
      folded.sortBy(_._1.toString).foreach { case (k, v, t) =>
        outRows.add(org.apache.spark.sql.Row(k, v, t))
      }
      Some(spark.createDataFrame(outRows, schema))
    }
  }

  /** Leaves past the row bound after appends — the rebalance signal:
    * non-empty means schedule a [[recluster]]. One footer-cheap
    * aggregation over the layout.
    */
  def oversizedLeaves(spark: SparkSession, servePath: String,
      maxLeafSize: Int): DataFrame =
    graft.operators.ServingManifest.openOrRead(spark, servePath)
      .groupBy("leaf_id").count()
      .filter(col("count") > maxLeafSize)

  /** Split ONLY the overflowed leaves of a served index, in place —
    * the incremental middle tier between the [[oversizedLeaves]]
    * signal and a full [[recluster]]. Each leaf past the bound gets a
    * localized sub-fit ([[IvfIndex.splitLeafCentroids]]: bounded-
    * sample k-means over THAT leaf's rows only — the scan is one
    * pruned partition), its slot in the centroid array is replaced by
    * the first sub and the rest append at the end (leaf ids stay
    * dense and positional), and only the affected `leaf_id=`
    * partition directories are rewritten (dynamic partition
    * overwrite) — untouched leaves keep their files byte-for-byte.
    * The sidecar is rewritten with the new centroids, refreshed
    * row/leaf stats, and a re-derived router, so the next serving
    * session — or the next `graft_ann_probe` in THIS one — routes
    * into the split. The delta registry is untouched: row content
    * and versions don't change, so LWW semantics are unaffected.
    *
    * Rows are re-homed with [[IvfIndex.leafExprMinL2]] against the
    * subs — exact d-dim geometry (the subs share the parent's aux
    * component, a constant across the argmin; see
    * [[IvfIndex.splitLeafCentroids]]). A spill copy is re-homed
    * within its own split independently of its sibling copy
    * elsewhere, the same localization the build's split rounds use.
    *
    * A DEGENERATE leaf (near-identical vectors k-means cannot
    * separate) can come back still oversized: it stays visible to
    * [[oversizedLeaves]] and is the recluster's job — this function
    * returns the per-leaf post-split maxima so a caller can see it
    * immediately. Raw-vector layouts only: a PQ-coded layout stores
    * no vectors to re-fit, so it rebalances via [[recluster]].
    *
    * At 100 TB: cost is proportional to the OVERFLOWED data only —
    * k pruned partition scans, k bounded-sample fits (concurrent,
    * like the build's split rounds), one write of the re-homed rows.
    * The corpus-wide scan, fit, and rewrite of a recluster never
    * happen.
    *
    * @return (number of leaf splits performed, max stored leaf size
    *         after)
    */
  def rebalanceOverflow(spark: SparkSession, servePath: String,
      id: String, vecCol: String, maxLeafSize: Int, seed: Long = 42L,
      maxRounds: Int = 3): (Int, Long) = {
    // rounds, like the build's split loop: a first split of a badly
    // overflowed leaf can leave a child still past the bound; each
    // round touches ONLY the leaves currently past it. Stop on
    // convergence, on round budget, or on NO PROGRESS (a degenerate
    // pile k-means cannot separate — the recluster's job, flagged by
    // the returned max and by oversizedLeaves)
    var total = 0
    var round = 0
    var prevMax = Long.MaxValue
    var res = rebalanceOnce(spark, servePath, id, vecCol, maxLeafSize, seed)
    total += res._1
    while (res._1 > 0 && res._2 > maxLeafSize && round < maxRounds - 1 &&
        res._2 < prevMax) {
      prevMax = res._2
      round += 1
      res = rebalanceOnce(spark, servePath, id, vecCol, maxLeafSize,
        seed + 7919L * round)
      total += res._1
    }
    (total, res._2)
  }

  private def rebalanceOnce(spark: SparkSession, servePath: String,
      id: String, vecCol: String, maxLeafSize: Int,
      seed: Long): (Int, Long) = {
    val model = IvfIndex.load(spark, servePath)
    // manifest-backed like readServing: maintenance on a 10⁵-leaf
    // layout must not pay (or trust) a recursive listing either
    val data = graft.operators.ServingManifest.openOrRead(spark, servePath)
    require(data.columns.contains(vecCol),
      s"rebalanceOverflow needs raw vectors ('$vecCol' column); a " +
        "PQ-coded layout rebalances via recluster")
    // bounded driver structure: the OVERFLOWED leaves only
    val over = oversizedLeaves(spark, servePath, maxLeafSize)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (over.isEmpty)
      return (0, model.stats.maxLeafRows)
    val leaves = over.keys.toSeq.sorted
    var cents = model.centroids.toVector

    // localized sub-fits, concurrent like the build's split rounds —
    // on the SHARED bounded pool: a mass-overflow round (10³+ leaves)
    // queues behind FitPool.Size in-flight Spark jobs instead of
    // flooding the driver scheduler
    import scala.concurrent.{Await, Future}
    import graft.operators.FitPool.ec
    val subFits = leaves.map { l =>
      val kSub = math.max(2,
        math.ceil(over(l) / (0.7 * maxLeafSize)).toInt)
      Future(l -> IvfIndex.splitLeafCentroids(
        data.filter(col("leaf_id") === l), id, vecCol,
        cents(l), kSub, over(l), seed + 1 + l))
    }
    val subs = Await.result(Future.sequence(subFits),
      scala.concurrent.duration.Duration.Inf)

    // slot assignment: first sub replaces the parent's slot, the rest
    // append — ascending parent order keeps the layout deterministic
    val touchedSlots = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rehomed = subs.map { case (l, sc) =>
      val slots = l +: sc.indices.tail.map(i => cents.length + i - 1)
      touchedSlots ++= slots
      cents = cents.updated(l, sc.head) ++ sc.tail
      // exact d-dim re-home among the subs, mapped to their slots
      val sub = IvfIndex.leafExprMinL2(col(vecCol).cast("array<double>"),
        sc.toSeq).cast("int")
      data.filter(col("leaf_id") === l)
        .withColumn("leaf_id",
          element_at(typedLit(slots), sub + 1))
    }.reduce(_.union(_))

    // materialize OUTSIDE the layout first: Spark (rightly) refuses a
    // write that overwrites partitions it is concurrently reading
    val tmp = servePath + ".rebalance-tmp"
    rehomed.write.mode("overwrite").parquet(tmp)
    val prevMode = spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // rewrites ONLY the partitions present in the written frame:
      // the split parents (now holding their slot-0 subset) and the
      // appended slots; every other leaf directory is untouched.
      // Co-partitioned so each rewritten leaf is one file.
      spark.read.parquet(tmp)
        .repartition(col("leaf_id"))
        .write.mode("overwrite").partitionBy("leaf_id").parquet(servePath)
    } finally {
      prevMode match {
        case Some(m) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }

    // manifest rows of exactly the rewritten directories: the split
    // parents (new file set) and the appended slots
    graft.operators.ServingManifest.reconcile(spark, servePath,
      touchedSlots.toSeq)

    // refreshed stats from footer-cheap aggregates over the new
    // layout; nVectors stays the last full build's corpus count
    // (appends don't maintain it — the recluster re-derives it)
    // the manifest was reconciled above, so this read sees the
    // post-split file set without a listing
    val after = graft.operators.ServingManifest.openOrRead(spark, servePath)
    val Array(nRows, maxLeaf) = after.groupBy("leaf_id").count()
      .agg(sum("count"), max("count")).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val router =
      if (cents.length >= IvfIndex.Router.MinLeaves)
        Some(IvfIndex.Router.build(cents.toArray))
      else None
    IvfIndex.writeModel(spark, servePath, IvfIndex.Model(cents.toArray,
      IvfIndex.BuildStats(model.stats.nVectors, nRows, maxLeaf), router))
    (leaves.size, maxLeaf)
  }

  /** Compact the serving layout IN PLACE: materialize the LWW resolve
    * (superseded versions dropped), rewrite the same `partitionBy`
    * layout with the SAME model, clear the delta registry. The cheap
    * middle tier between appends and [[recluster]]: no re-fit, no
    * re-assignment — leaves keep their centroids, reads go back to a
    * plain pruned scan, and the delta's growth (the broadcast-size
    * assumption in [[readServing]]) resets. Run it when the delta
    * grows large but the leaf balance is still fine; [[recluster]]
    * remains the answer when [[oversizedLeaves]] fires.
    *
    * Writes to a sibling directory and swaps via rename — never
    * overwrites the path it is reading (the [[StreamUpdate.compact]]
    * rationale: a cache-evicted partition recomputed mid-overwrite
    * would read deleted files).
    *
    * Log retention at this boundary is STRUCTURAL: the compacted copy
    * gets a fresh manifest (one v=1 checkpoint) and the old log dies
    * with the replaced directory — compaction is the hard reset the
    * per-append [[graft.operators.ServingManifest.truncate]] policy
    * (`keepVersions` on the append paths) only approximates.
    */
  def compactServing(spark: SparkSession, servePath: String, id: String,
      versionCol: String): Unit = {
    val model = IvfIndex.load(spark, servePath)
    val hadoopPath = new org.apache.hadoop.fs.Path(servePath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(servePath + ".compact-tmp")
    // co-partitioned like IvfIndex.write: compaction EXISTS to fix
    // file sprawl, so the compacted copy must be one file per leaf
    readServing(spark, servePath, id, versionCol)
      .repartition(col("leaf_id"))
      .write.mode("overwrite").partitionBy("leaf_id").parquet(tmp.toString)
    IvfIndex.writeModel(spark, tmp.toString, model)
    // a CODED layout carries a second sidecar — the codebook travels
    // with the codes or the compacted layout is unreadable
    val pq = new org.apache.hadoop.fs.Path(
      graft.operators.ProductQuantizer.codebookDir(servePath))
    if (fs.exists(pq))
      graft.operators.ProductQuantizer.writeCodebook(spark, tmp.toString,
        graft.operators.ProductQuantizer.loadCodebook(spark, servePath))
    // an OPQ layout's rotation travels with its codebook
    graft.operators.ProductQuantizer.loadRotation(spark, servePath)
      .foreach(graft.operators.ProductQuantizer.writeRotation(spark,
        tmp.toString, _))
    // promoted-column marker travels first: the rebuild below then
    // recomputes per-file skip stats for the compacted files
    val promoted = new org.apache.hadoop.fs.Path(
      graft.operators.ServingManifest.promotedFile(servePath))
    if (fs.exists(promoted))
      org.apache.hadoop.fs.FileUtil.copy(fs, promoted, fs,
        new org.apache.hadoop.fs.Path(
          graft.operators.ServingManifest.promotedFile(tmp.toString)),
        false, spark.sparkContext.hadoopConfiguration)
    // certified-search radii travel too: compaction only removes
    // rows, so the copied radii stay admissible over-estimates
    graft.operators.CertifiedSearch.copyTo(spark, servePath, tmp.toString)
    // manifest over the compacted copy, relative paths → survives the
    // rename below
    graft.operators.ServingManifest.rebuild(spark, tmp.toString)
    // the lexical sidecar travels RESOLVED (tombstoned/superseded
    // postings materialized away, exactly like the data rows) and
    // re-stamped to the fresh manifest — hybrid serving survives
    // compaction without a re-attach
    graft.operators.Lexical.compactTo(spark, servePath, tmp.toString,
      Some(id))
    val old = new org.apache.hadoop.fs.Path(servePath + ".compact-old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(hadoopPath, old))
      throw new java.io.IOException(
        s"compactServing: cannot move $servePath aside")
    if (!fs.rename(tmp, hadoopPath)) {
      fs.rename(old, hadoopPath) // roll back
      throw new java.io.IOException(s"compactServing: cannot install $tmp")
    }
    fs.delete(old, true)
  }

  /** Policy knobs for [[maintain]] — the numbers an operator tunes
    * per deployment instead of hand-scheduling each action.
    *
    * @param maxLeafSize   rebalance trigger: any stored leaf past
    *                      this row count gets a localized split
    * @param maxDeltaRows  compaction trigger: once the LWW registry
    *                      accumulates this many entries, superseded
    *                      and tombstoned rows get materialized away
    * @param keepVersions  snapshot-log retention handed to the
    *                      truncate pass (≤ 0 = keep forever)
    * @param reclusterCodedTo  when set, an overflowed CODED layout
    *                      (SQ8 / PQ — no raw vectors to re-fit a
    *                      localized split from) is reclustered to this
    *                      many leaves over its DEQUANTIZED
    *                      reconstructions ([[reclusterCoded]]) instead
    *                      of merely reporting the overflow; None (the
    *                      default) keeps the report-only behavior
    * @param maintainRadii when true, the sweep keeps the
    *                      certified-search `_graft_radii` sidecar
    *                      ([[graft.operators.CertifiedSearch]]) fresh
    *                      on a raw-vector layout: rebuilt when ABSENT
    *                      (a recluster overwrites the layout dir and
    *                      wipes the sidecar — certified search fails
    *                      loudly until radii exist again) and after
    *                      any SPLIT in this sweep (split-minted leaf
    *                      ids bound at +∞ — correct but weakened
    *                      certificates until rebuilt). The operator
    *                      bit says "this deployment serves certified
    *                      reads"; off (default) keeps radii a manual
    *                      opt-in pass
    * @param checkBqCodes  when true and the layout carries the
    *                      `bq_code` companion column, the sweep runs
    *                      the shortlist rung's DRIFT PROBE
    *                      ([[graft.operators.Serving.verifyBqCodes]]
    *                      semantics) over the final layout state and
    *                      reports the count of rows whose stored sign
    *                      codes disagree with their vectors —
    *                      structurally 0 through the maintained write
    *                      paths, nonzero = a side-channel writer
    *                      poisoned the tier. One scan; off (default)
    *                      keeps the probe an on-demand call
    */
  final case class MaintenancePolicy(
      maxLeafSize: Int,
      maxDeltaRows: Long = 100000L,
      keepVersions: Int = 64,
      reclusterCodedTo: Option[Int] = None,
      maintainRadii: Boolean = false,
      checkBqCodes: Boolean = false,
      // bound the BQ probe to files appended since this snapshot
      // version (None = full scan; auto-falls-back to full when a
      // rewrite reset the log) — the knob that keeps the sweep
      // ∝ new data at 100 TB
      bqCheckSinceVersion: Option[Int] = None)

  /** What one [[maintain]] sweep did — the operator's audit record.
    * `bqDriftRows` is −1 when the probe did not run (policy off or
    * no companion column), so a clean 0 is distinguishable from
    * not-checked.
    */
  final case class MaintenanceReport(
      splits: Int, maxLeafAfter: Long, compacted: Boolean,
      deltaRows: Long, logVersionsDropped: Int,
      reclustered: Boolean = false,
      radiiRebuilt: Boolean = false,
      bqDriftRows: Long = -1L,
      // the snapshot version the BQ probe covered through (-1 = probe
      // did not run / no log): feed it to the NEXT sweep's
      // `bqCheckSinceVersion` and the sweeps chain incrementally with
      // no external bookkeeping. Captured BEFORE the probe reads, so
      // a concurrent append lands past the recorded baseline and is
      // re-checked next sweep (over-scan is safe, under-scan is not).
      bqCheckedThroughVersion: Int = -1,
      // lexical-sidecar freshness over the sweep's FINAL state:
      // −1 = layout carries no sidecar, 0 = stamp matches the live
      // manifest (hybrid serves), 1 = STALE — the layout mutated
      // without lexical maintenance and searchHybrid will refuse it
      // (re-attach or append with textCol). Two driver-side file
      // reads, zero data scan.
      lexicalStale: Int = -1)

  /** ONE policy-driven maintenance sweep over a serving layout — the
    * autopilot tick an always-on index schedules after upsert/delete
    * traffic instead of hand-wiring each action:
    *
    *  1. leaves past `policy.maxLeafSize` → [[rebalanceOverflow]]
    *     (localized splits; cost ∝ overflowed data). On a CODED
    *     layout (SQ8/PQ — no raw vectors to re-fit) the sweep either
    *     reclusters over dequantized reconstructions when
    *     `policy.reclusterCodedTo` is set ([[reclusterCoded]]), or
    *     reports the overflow via `maxLeafAfter` so the operator can
    *     schedule one.
    *  2. LWW registry past `policy.maxDeltaRows` entries →
    *     [[compactServing]] (one rewrite materializes upserts AND
    *     deletes, clears the registry, resets the snapshot log).
    *  3. snapshot-log retention ([[graft.operators.ServingManifest.truncate]]
    *     with `policy.keepVersions`) — a no-op right after a compact
    *     (fresh log), the bound that matters between compacts.
    *
    * Each decision reads one cheap aggregate (a footer-count per
    * leaf, a registry count); every action is the same incremental
    * operator the lifecycle gates already prove. Idempotent: a sweep
    * over a healthy layout does nothing and says so.
    */
  def maintain(spark: SparkSession, servePath: String, id: String,
      vecCol: String, versionCol: String,
      policy: MaintenancePolicy): MaintenanceReport = {
    val fs = new org.apache.hadoop.fs.Path(servePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // coded = the layout stores codes, not vectors (schema, not just
    // the codebook sidecar — the SQ8 tier has no trained artifact)
    val layoutCols = graft.operators.ServingManifest
      .openOrRead(spark, servePath).columns
    val coded = layoutCols.contains("pq_code") ||
      layoutCols.contains("sq_code")
    val overflowed = oversizedLeaves(spark, servePath,
      policy.maxLeafSize).count()
    def currentMaxLeaf(): Long =
      graft.operators.ServingManifest.openOrRead(spark, servePath)
        .groupBy("leaf_id").count().agg(max("count")).head().getLong(0)
    val (splits, maxAfter, reclustered) =
      if (overflowed > 0 && !coded) {
        val (s, m) = rebalanceOverflow(spark, servePath, id, vecCol,
          policy.maxLeafSize)
        (s, m, false)
      } else if (overflowed > 0 && policy.reclusterCodedTo.nonEmpty) {
        reclusterCoded(spark, servePath, id, versionCol,
          policy.reclusterCodedTo.get)
        (0, currentMaxLeaf(), true)
      } else if (overflowed > 0) (0, currentMaxLeaf(), false)
      else (0, 0L, false)
    val delta = new org.apache.hadoop.fs.Path(deltaDir(servePath))
    // footer row counts only — the registry count() was a Spark job
    val deltaRows =
      if (fs.exists(delta))
        graft.operators.MetaIO.rowCount(
          spark.sparkContext.hadoopConfiguration, fs, delta)
      else 0L
    val compact = deltaRows > policy.maxDeltaRows
    if (compact) compactServing(spark, servePath, id, versionCol)
    val dropped =
      if (!compact && policy.keepVersions > 0)
        graft.operators.ServingManifest.truncate(spark, servePath,
          policy.keepVersions)
      else 0
    // radii upkeep LAST, over the final layout state of this sweep
    // (certified search is raw-tier only — see CertifiedSearch):
    // rebuild when the sidecar is missing (a recluster wiped it) or
    // when this sweep split leaves (new ids bound at +∞ until rebuilt)
    val radiiRebuilt = policy.maintainRadii && !coded && {
      val needs = splits > 0 ||
        !graft.operators.CertifiedSearch.radiiExist(spark, servePath)
      if (needs)
        graft.operators.CertifiedSearch.buildRadii(spark, servePath,
          vecCol)
      needs
    }
    // BQ drift probe over the FINAL layout state of this sweep —
    // after a compaction/recluster has rewritten rows, not before.
    // `policy.bqCheckSinceVersion` bounds the read to files APPENDED
    // since that snapshot version (cost ∝ new bytes — the steady-
    // state sweep at 100 TB); when the version is gone from the log
    // (a compact/rebalance this sweep or earlier reset it) the probe
    // falls back to the full scan, which right after a compact IS
    // the appended set. Both forms share the one drift predicate
    // ([[graft.functions.bquant.codeDrift]]) with the append path's
    // derivation, so probe and derivation cannot diverge.
    val (bqDrift, bqCheckedThrough) =
      if (policy.checkBqCodes && layoutCols.contains("bq_code")) {
        // baseline for the NEXT sweep, captured BEFORE the probe
        // reads: a concurrent append lands past it and re-checks
        val checkedThrough = graft.operators.ServingManifest
          .versions(spark, servePath) match {
          case vs if vs.nonEmpty => vs.max
          case _ => -1
        }
        // the diff runs distributed (freshEntriesSince: one live
        // manifest read shared with the subset open, baseline fold as
        // a DataFrame); only the appendage-sized fresh subset reaches
        // the driver. Changed bytes/mtime under an unchanged name
        // counts as fresh — in-place rewrites must be re-scanned.
        val sinceFresh = policy.bqCheckSinceVersion.flatMap { v =>
          graft.operators.ServingManifest
            .freshEntriesSince(spark, servePath, v)
        }
        val drift = sinceFresh match {
          case Some(fresh) =>
            graft.operators.ServingManifest
              .openEntriesSubset(spark, servePath, fresh) match {
              case None => 0L
              case Some(df) => df
                .filter(graft.functions.bquant.codeDrift(col(vecCol),
                  col("bq_code"))).count()
            }
          case None =>
            readServing(spark, servePath, id, versionCol)
              .filter(graft.functions.bquant.codeDrift(col(vecCol),
                col("bq_code"))).count()
        }
        (drift, checkedThrough)
      } else (-1L, -1)
    // lexical freshness over the FINAL state (a compact this sweep
    // carried + re-stamped the sidecar, so it reads fresh here)
    val lexicalStale =
      if (!graft.operators.Lexical.hasStats(spark, servePath)) -1
      else {
        val live = graft.operators.ServingManifest
          .versions(spark, servePath).lastOption.getOrElse(0)
        if (graft.operators.Lexical.stampedVersion(spark, servePath)
            .contains(live)) 0 else 1
      }
    MaintenanceReport(splits, maxAfter, compact, deltaRows, dropped,
      reclustered, radiiRebuilt, bqDrift, bqCheckedThrough, lexicalStale)
  }

  /** RECLUSTER a CODED serving layout — the autopilot completion for
    * the quantized tiers: their raw vectors are gone by design (the
    * tier exists to not store them), so fresh leaf geometry is fitted
    * over the DEQUANTIZED reconstructions instead:
    *
    *  - SQ8: x̂ᵢ = codeᵢ·ma/127 ([[graft.functions.quantize.decode]]) —
    *    within quantization error of the original, and re-quantizing
    *    x̂ reproduces the identical codes, so the stored codes ride
    *    through UNCHANGED (only `leaf_id` moves).
    *  - PQ: the codebook reconstruction
    *    ([[graft.operators.ProductQuantizer.decodeExpr]]); an OPQ
    *    layout's codes live in rotated space, so the reconstruction
    *    is un-rotated (Bᵀ, [[graft.operators.ProductQuantizer.unrotateExpr]])
    *    back to the RAW space the leaf geometry is defined in —
    *    mirroring the write side, which routes raw and rotates only
    *    for encoding.
    *
    * Geometry quality degrades only by the tier's own reconstruction
    * error — k-means centroids are means over hundreds of rows, so
    * per-row quantization noise largely averages out of the fit.
    *
    * Same durability discipline as [[compactServing]]: LWW-resolve →
    * re-fit → write a SIBLING directory (never overwrite the path
    * being read) with model + codebook/rotation sidecars + promoted
    * marker + fresh manifest, then swap via rename. The delta
    * registry compacts into the fresh layout; the snapshot log
    * restarts at a v=1 checkpoint.
    */
  def reclusterCoded(spark: SparkSession, servePath: String, id: String,
      versionCol: String, numLeaves: Int,
      seed: Long = 42L): IvfIndex.Model = {
    import graft.operators.{IvfIndex, ProductQuantizer, ServingManifest}
    val data = readServing(spark, servePath, id, versionCol)
    val cols = data.columns
    val recon =
      if (cols.contains("sq_code"))
        data.withColumn("__recon",
          graft.functions.quantize.decode(col("sq_code"), col("ma")))
      else if (cols.contains("pq_code")) {
        val cb = ProductQuantizer.loadCodebook(spark, servePath)
        val dec = ProductQuantizer.decodeExpr(col("pq_code"), cb)
        val raw = ProductQuantizer.loadRotation(spark, servePath)
          .map(r => ProductQuantizer.unrotateExpr(dec, r)).getOrElse(dec)
        data.withColumn("__recon", raw)
      } else throw new IllegalArgumentException(
        s"reclusterCoded: layout at $servePath stores raw vectors — " +
          "use recluster/rebalanceOverflow")
    val (indexed, model) = IvfIndex.build(recon.drop("leaf_id"), id,
      "__recon", numLeaves, seed)

    val hadoopPath = new org.apache.hadoop.fs.Path(servePath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(servePath + ".recluster-tmp")
    indexed.drop("__recon")
      .repartition(col("leaf_id"))
      .write.mode("overwrite").partitionBy("leaf_id").parquet(tmp.toString)
    IvfIndex.writeModel(spark, tmp.toString, model)
    val pq = new org.apache.hadoop.fs.Path(
      ProductQuantizer.codebookDir(servePath))
    if (fs.exists(pq))
      ProductQuantizer.writeCodebook(spark, tmp.toString,
        ProductQuantizer.loadCodebook(spark, servePath))
    ProductQuantizer.loadRotation(spark, servePath)
      .foreach(ProductQuantizer.writeRotation(spark, tmp.toString, _))
    val promoted = new org.apache.hadoop.fs.Path(
      ServingManifest.promotedFile(servePath))
    if (fs.exists(promoted))
      org.apache.hadoop.fs.FileUtil.copy(fs, promoted, fs,
        new org.apache.hadoop.fs.Path(
          ServingManifest.promotedFile(tmp.toString)),
        false, spark.sparkContext.hadoopConfiguration)
    ServingManifest.rebuild(spark, tmp.toString)
    val old = new org.apache.hadoop.fs.Path(servePath + ".recluster-old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(hadoopPath, old))
      throw new java.io.IOException(
        s"reclusterCoded: cannot move $servePath aside")
    if (!fs.rename(tmp, hadoopPath)) {
      fs.rename(old, hadoopPath) // roll back
      throw new java.io.IOException(s"reclusterCoded: cannot install $tmp")
    }
    fs.delete(old, true)
    model
  }

  /** Resolve the live corpus (LWW per id). Tombstone-aware when the
    * log carries a `tombstone` column (a delete stream appends
    * (id, version, tombstone=true) rows through [[appendBatch]] like
    * any other upsert): ids whose LWW winner is a tombstone are
    * dropped, so a [[recluster]] from the log does NOT resurrect
    * deleted datapoints. A log without the column resolves exactly
    * as before.
    */
  def liveCorpus(spark: SparkSession, logPath: String, id: String,
      versionCol: String): DataFrame = {
    val log = spark.read.option("mergeSchema", "true").parquet(logPath)
    val resolved = graft.sources.MetadataStore.resolve(
      log, id, col(versionCol))
    if (log.columns.contains("tombstone"))
      resolved.filter(!coalesce(col("tombstone"), lit(false)))
        .drop("tombstone")
    else resolved
  }

  /** Recluster: fit fresh leaves over the live corpus and rewrite the
    * serving index partitioned by leaf. The overwrite also clears the
    * delta registry — every version it tracked is compacted into the
    * fresh layout, so [[readServing]] after a recluster is a plain
    * pruned scan again.
    */
  def recluster(spark: SparkSession, logPath: String, servePath: String,
      id: String, vecCol: String, versionCol: String, numLeaves: Int,
      seed: Long = 42L): IvfIndex.Model = {
    val live = liveCorpus(spark, logPath, id, versionCol)
    val (indexed, model) = IvfIndex.build(live, id, vecCol, numLeaves, seed)
    // the full reopenable index (data + model sidecar): a recluster
    // rebuilds BOTH router levels — build() re-fits the leaves and
    // re-derives the super-group router whenever the leaf count
    // warrants one — and a serving session picks the new model up by
    // reloading the sidecar
    IvfIndex.write(indexed, servePath, model)
    model
  }

  /** Sidecars a clone must carry for the copy to serve standalone:
    * the IVF model (required — a layout is unsearchable without it),
    * then optional tiers/metadata that travel with the data they
    * describe: PQ codebook + OPQ rotation (codes are indices into the
    * codebook), certified-search radii (over-estimates for ANY subset
    * of the layout — appends only grow a radius and compaction only
    * removes rows, so a pinned clone inherits them safely), and the
    * promoted-column marker (so the fresh manifest re-derives
    * per-file stats).
    */
  private val CloneSidecars = Seq(
    "_graft_model", "_graft_pq", "_graft_opq", "_graft_radii",
    "_graft_manifest_promoted")

  /** Clone a serving layout to `dstPath` — the backup / environment-
    * promotion / blue-green half of the deployment lifecycle the
    * reference delegates to its managed service (index + endpoint
    * provisioning, /root/reference/vector_store/utils/index_manager.py:49-75).
    *
    * `version = None` clones the LIVE layout: the current manifest's
    * file-set plus the delta registry, so a fresh `Serving.open` on
    * the clone answers exactly like one on the source (LWW and
    * tombstones included). `Some(v)` clones the file-set AS OF logged
    * snapshot `v` ([[graft.operators.ServingManifest.openAt]]
    * semantics: raw rows as stored then, no registry) — a consistent
    * historical copy even while upserts keep landing on the source.
    *
    * The copy is DISTRIBUTED (one task per data file, ~256-way) —
    * at 10⁶ files / 100 TB this is a cluster job, not a driver loop;
    * sidecars (model, codebook, rotation, radii — KBs to MBs) copy on
    * the driver. The clone starts a FRESH manifest history: one v=1
    * checkpoint install of exactly the copied file-set, so its
    * retention and time travel are independent of the source's.
    * A pinned version whose files a rewriting mutation (compact /
    * recluster) has since replaced fails the copy loudly, matching
    * the snapshot log's contract.
    *
    * @return number of data files copied
    */
  def cloneServing(spark: SparkSession, srcPath: String, dstPath: String,
      version: Option[Int] = None): Long = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import graft.operators.ServingManifest
    val conf = spark.sparkContext.hadoopConfiguration
    val srcRoot = new Path(srcPath)
    val dstRoot = new Path(dstPath)
    val srcFs = srcRoot.getFileSystem(conf)
    val dstFs = dstRoot.getFileSystem(conf)
    require(!dstFs.exists(dstRoot) ||
      dstFs.listStatus(dstRoot).isEmpty,
      s"cloneServing: destination $dstPath exists and is not empty — " +
        "refusing to interleave two layouts")
    val files: Seq[String] = version match {
      case Some(v) =>
        ServingManifest.filesAt(spark, srcPath, v).getOrElse(
          throw new IllegalArgumentException(
            s"cloneServing: version $v is not in the snapshot log of " +
              s"$srcPath (have ${ServingManifest.versions(spark, srcPath)})"))
      case None =>
        ServingManifest.liveFiles(spark, srcPath).getOrElse(
          throw new IllegalArgumentException(
            s"cloneServing: $srcPath carries no manifest — a live clone " +
              "needs one (ServingManifest.rebuild first)"))
    }
    dstFs.mkdirs(dstRoot)
    // distributed data-file copy, relative paths preserved so the
    // leaf_id= partition layout survives verbatim
    val srcStr = srcPath
    val dstStr = dstPath
    spark.sparkContext
      .parallelize(files, math.min(math.max(files.length, 1), 256))
      .foreach { rel =>
        val c = new org.apache.hadoop.conf.Configuration()
        val from = new Path(srcStr + "/" + rel)
        val to = new Path(dstStr + "/" + rel)
        val ffs = from.getFileSystem(c)
        val tfs = to.getFileSystem(c)
        if (!FileUtil.copy(ffs, from, tfs, to, false, false, c))
          throw new java.io.IOException(
            s"cloneServing: cannot copy $from — pinned file replaced " +
              "by a rewriting mutation?")
      }
    // sidecars (small, driver-side); the delta registry is LIVE state
    // and only travels with a live clone, mirroring openAt semantics
    val sidecars =
      if (version.isEmpty) CloneSidecars :+ "_graft_delta"
      else CloneSidecars
    sidecars.foreach { name =>
      val from = new Path(srcRoot, name)
      if (srcFs.exists(from)) {
        if (!FileUtil.copy(srcFs, from, dstFs, new Path(dstRoot, name),
            false, false, conf))
          throw new java.io.IOException(
            s"cloneServing: cannot copy sidecar $from")
      } else if (name == "_graft_model")
        throw new IllegalArgumentException(
          s"cloneServing: $srcPath has no _graft_model sidecar — not a " +
            "serving layout")
    }
    // fresh history: v=1 checkpoint manifest over exactly the copied
    // set (listAll sees only what landed — the pinned subset)
    ServingManifest.rebuild(spark, dstPath)
    // the lexical sidecar travels with its mv lineage re-based to the
    // clone's fresh history (verbatim + live delta for a live clone,
    // resolved-as-of-v for a pinned one) — a cloned hybrid endpoint
    // serves without a re-attach
    graft.operators.Lexical.cloneTo(spark, srcPath, dstPath, version,
      ServingManifest.versions(spark, dstPath).lastOption.getOrElse(0))
    files.length.toLong
  }
}
