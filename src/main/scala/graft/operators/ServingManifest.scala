package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** File manifest for a served `partitionBy(leaf_id)` index layout —
  * the table-format trick (Iceberg/Delta manifests) applied to the
  * index: a snapshot LOG records every mutation of the file-set
  * (checkpoints + deltas, the Delta-log shape), so a serving session
  * opens the index from a handful of small metadata reads instead of
  * recursively listing the layout.
  *
  * Why it matters at scale: a 100 TB index holds ~10⁵-10⁶ leaf
  * directories; `spark.read.parquet(path)` lists every one of them
  * on EVERY fresh open (measured 21.6 s at 12 270 leaves on a local
  * fs — object-store LIST latency makes it minutes, and eventual
  * listing consistency makes it wrong after concurrent writes). The
  * manifest fold is a few small parquet reads; the file set it names
  * is exact, not discovered.
  *
  * ARCHITECTURE (round 18): the snapshot log is the AUTHORITY.
  * Steady-state mutations ([[reconcile]] after an append/rebalance)
  * write ONE delta version — O(touched files), independent of layout
  * size — and the LIVE view is the fold of the log at its latest
  * version (nearest checkpoint + ≤ [[CheckpointInterval]]−1 deltas).
  * The `_graft_manifest` directory persists as the most recent
  * CHECKPOINT (rewritten on full installs and every
  * [[CheckpointInterval]]-th version) and is the manifest-exists
  * marker. It is only that checkpoint: it can lag the live fold by
  * up to [[CheckpointInterval]]−1 versions, so a reader that opens
  * the directory directly misses files appended since. Before
  * round 18 every reconcile rewrote the full manifest — O(manifest)
  * per append, the wrong asymptotic for a streaming index at 10⁶
  * entries.
  *
  * All metadata reads and writes here are DRIVER-SIDE parquet I/O
  * ([[MetaIO]]): a `spark.read...collect()` of a kilobyte sidecar
  * costs a Spark job (scheduler round-trip, task launch), and the
  * lifecycle paths used to issue many per call — the round-17
  * profile's "431 broadcast jobs, none > 1.2 s". The manifest is
  * driver-sized by design (tens of MB at 100 TB — what a
  * Delta/Iceberg snapshot holds for planning), so the driver read is
  * strictly cheaper; only layout-scale listings ([[listAll]]) and
  * footer-stats passes over many files fan out through Spark.
  *
  * Writer contract: every mutation of the serving layout maintains
  * the manifest — [[IvfIndex.write]] (full build / recluster)
  * rebuilds it, [[graft.streaming.IndexMaintenance.appendToServing]]
  * and `appendCodedToServing` reconcile the appended leaves,
  * `rebalanceOverflow` reconciles the split/appended leaves,
  * `compactServing` rebuilds on the compacted copy before the swap.
  * A layout written by an older build has no manifest; every reader
  * falls back to listing ([[openOrRead]]), so the manifest is a pure
  * optimization with a loud failure mode: a listed-but-deleted file
  * fails the scan, and [[verify]] detects drift in either direction.
  *
  * Crash discipline: a steady-state install is ONE directory rename
  * (the log delta) — atomic on a real filesystem, so a reader sees
  * the version in full or not at all. Full installs write the log
  * CHECKPOINT first, then the manifest directory: a crash between
  * the two leaves a lagging checkpoint dir that the fold never
  * consults (the log is the authority). A manifest dir AHEAD of the
  * log (written by the pre-r18 manifest-first code and crashed
  * before its log rename) is detected ([[liveState]]) and served
  * as-is; the next install re-synchronizes by forcing a checkpoint.
  *
  * Paths are stored RELATIVE to the index root, so the manifest
  * survives `compactServing`'s directory rename swap and the layout
  * can be relocated wholesale.
  */
object ServingManifest {

  /** `_`-prefix keeps the manifest invisible to Spark's data-file
    * discovery, like the model sidecar. */
  def manifestDir(path: String): String = path + "/_graft_manifest"

  /** Retained manifest SNAPSHOT LOG, one parquet dir per manifest
    * install — the Delta/Iceberg version-log trick. Every mutation
    * logs here, so a reader can pin the layout AS OF a version:
    * build = v1, each append/rebalance reconcile = +1. Because
    * appends only ADD data files, every older snapshot's file-set
    * stays fully readable under append-only mutation — a serving
    * process can hold one consistent snapshot while upserts race.
    * Mutations that REWRITE data files (compact, recluster — both
    * rebuild on a fresh copy) start a fresh log; a snapshot that
    * names a deleted file fails its scan loudly, never silently.
    *
    * Log format (the Delta-log shape, so the log grows O(changes),
    * never O(total files) per mutation): full-listing installs
    * (build, recluster, compact) write a CHECKPOINT `v=N.full`
    * holding the complete file-set; steady-state [[reconcile]]
    * writes a DELTA `v=N` holding only (file…, action add|remove)
    * rows for the touched leaves' changes — add rows carry the
    * file's promoted-column stats so the live fold skips files
    * exactly like a freshly-rebuilt manifest — with a checkpoint
    * forced every [[CheckpointInterval]] versions to bound the fold
    * depth. [[openAt]] reconstructs a version by folding deltas onto
    * the nearest checkpoint at-or-below it. Logs written by the
    * older full-snapshot format (no `action` column) read back as
    * checkpoints — fully compatible.
    */
  def logDir(path: String): String = path + "/_graft_manifest_log"

  /** Every Nth version is a checkpoint even on the delta path: caps
    * `openAt` fold depth at N-1 reads and gives retention something
    * to truncate to. 16 balances fold cost (a handful of small
    * parquet reads) against log growth (one full file-set copy per
    * 16 mutations).
    */
  val CheckpointInterval = 16

  /** Marker listing the PROMOTED restrict columns (one name per
    * line): numeric columns whose per-file (min, max) the manifest
    * carries so a restricted query can skip whole FILES at plan time
    * — the Delta data-skipping analog, one level above parquet's
    * row-group stats. Lives beside the manifest dir (not inside it)
    * so it survives the manifest's rename swaps; [[promote]] writes
    * it, [[rebuild]] and [[reconcile]] maintain stats while it
    * exists.
    */
  def promotedFile(path: String): String =
    path + "/_graft_manifest_promoted"

  /** Promoted column names, empty when promotion was never enabled. */
  def promotedCols(spark: SparkSession, path: String): Seq[String] = {
    val fs = fsFor(spark, path)
    val p = new Path(promotedFile(path))
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Per-file stats string: `col:min:max` joined by `;`, columns in
    * [[promotedCols]] order, a column silently absent when any row
    * group lacks usable numeric statistics for it (absent = the file
    * can never be skipped on that column — conservative). Doubles
    * round-trip through `Double.toString`.
    */
  private[operators] def encodeStats(
      stats: Seq[(String, Double, Double)]): String =
    stats.map { case (c, lo, hi) => s"$c:$lo:$hi" }.mkString(";")

  private[graft] def decodeStats(s: String): Map[String, (Double, Double)] =
    if (s == null || s.isEmpty) Map.empty
    else s.split(';').iterator.map { part =>
      val Array(c, lo, hi) = part.split(':')
      c -> (lo.toDouble, hi.toDouble)
    }.toMap

  /** (min, max) per promoted column of ONE parquet file, from its
    * FOOTER — metadata-only, no data pages read: this is what keeps
    * stats maintenance affordable at any scale (an append's cost is
    * one footer read per new file; [[promote]]'s is one per existing
    * file, distributed).
    */
  private[operators] def footerStats(
      conf: org.apache.hadoop.conf.Configuration, file: Path,
      cols: Seq[String]): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
      val bad = scala.collection.mutable.Set.empty[String]
      def num(v: Any): Option[Double] = v match {
        case i: java.lang.Integer => Some(i.toDouble)
        case l: java.lang.Long => Some(l.toDouble)
        case f: java.lang.Float => Some(f.toDouble)
        case d: java.lang.Double => Some(d)
        case _ => None // binary/string/logical types: not skippable here
      }
      reader.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (cols.contains(name) && !bad.contains(name)) {
            val st = c.getStatistics
            val lohi = for {
              s <- Option(st) if s.hasNonNullValue
              lo <- num(s.genericGetMin)
              hi <- num(s.genericGetMax)
            } yield (lo, hi)
            lohi match {
              case Some((lo, hi)) =>
                val cur = acc.getOrElse(name, (lo, hi))
                acc(name) = (math.min(cur._1, lo), math.max(cur._2, hi))
              case None =>
                bad += name; acc.remove(name); ()
            }
          }
        }
      }
      encodeStats(cols.flatMap(c =>
        acc.get(c).map { case (lo, hi) => (c, lo, hi) }))
    } finally reader.close()
  }

  /** Enable file skipping for `cols` (numeric, top-level): records
    * them in [[promotedFile]] and rewrites the manifest with a
    * per-file stats column computed from parquet footers — a
    * distributed metadata pass (one footer per file, no data pages),
    * the one-time cost of turning restricts into plan-time file
    * pruning. Maintenance is automatic from here: [[reconcile]]
    * computes stats for its touched files, [[rebuild]] for the full
    * listing. Stats are LIVE-fold state only — time-travel opens
    * ([[openAt]]) carry none and skip nothing (conservative).
    */
  def promote(spark: SparkSession, path: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "promote needs at least one column")
    val fs = fsFor(spark, path)
    val out = fs.create(new Path(promotedFile(path)), true)
    try out.write((cols.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    rebuild(spark, path)
  }

  /** Distributed footer-stats pass over `files` (relative paths). */
  private def statsFor(spark: SparkSession, path: String,
      files: Seq[String], cols: Seq[String]): Map[String, String] = {
    if (cols.isEmpty || files.isEmpty) return Map.empty
    val rootStr = path
    if (files.length <= 64) {
      val conf = spark.sparkContext.hadoopConfiguration
      files.map(f =>
        f -> footerStats(conf, new Path(rootStr + "/" + f), cols)).toMap
    } else {
      spark.sparkContext
        .parallelize(files, math.min(files.length, 256))
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration()
          it.map(f =>
            f -> footerStats(conf, new Path(rootStr + "/" + f), cols))
        }
        .collect().toMap
    }
  }

  private def fsFor(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hconf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  def exists(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new Path(manifestDir(path)))

  /** Data files of one leaf directory, as (relativePath, leafId,
    * bytes). Committer droppings (`_SUCCESS`, `.crc`) are skipped the
    * same way Spark's own listing skips them.
    */
  private def listLeafDir(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, dir: Path): Seq[(String, Int, Long, Long)] = {
    val leaf = dir.getName.stripPrefix("leaf_id=").toInt
    val entries = fs.listStatus(dir).toSeq
    // the manifest models EXACTLY one partition level (leaf_id) —
    // a nested non-hidden directory means a second partition column
    // whose files this listing would silently never see; fail loudly
    // instead of serving a partial layout
    val nested = entries.filter(e => e.isDirectory && {
      val n = e.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })
    require(nested.isEmpty,
      s"ServingManifest: unexpected sub-director${
        if (nested.size == 1) "y" else "ies"} ${
        nested.map(_.getPath.getName).mkString(", ")} under $dir — " +
        "the manifest supports exactly one partition level (leaf_id); " +
        "a nested partition layout would be silently invisible")
    entries
      .filter(f => f.isFile && {
        val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(f => (dir.getName + "/" + f.getPath.getName, leaf, f.getLen,
        f.getModificationTime))
  }

  /** One full listing of the layout's leaf directories → entry rows.
    * Directory fan-out goes through a Spark job past a small
    * threshold (the same shape as Spark's parallel partition
    * discovery), so a 10⁵-directory rebuild is a cluster listing, not
    * a driver loop. Used where a layout-scale pass just happened
    * anyway (build, recluster, compact) — steady-state maintenance is
    * [[reconcile]], which touches only the written leaves.
    */
  private def listAll(spark: SparkSession, path: String)
      : Seq[(String, Int, Long, Long)] = {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    val dirs = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("leaf_id="))
      .map(_.getPath.toString)
    if (dirs.length <= 64)
      dirs.flatMap(d => listLeafDir(fs, root, new Path(d)))
    else {
      val rootStr = path
      spark.sparkContext
        .parallelize(dirs, math.min(dirs.length, 256))
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration()
          it.flatMap { d =>
            val p = new Path(d)
            listLeafDir(p.getFileSystem(conf), new Path(rootStr), p)
          }
        }
        .collect().toSeq
    }
  }

  // ------------------------------------------------------------------
  // entry representation and driver-side log I/O
  // ------------------------------------------------------------------

  /** (file, leaf_id, bytes, mtime, stats) — the manifest row. */
  private type Entry5 = (String, Int, Long, Long, String)

  private def asInt(v: Any): Int = v match {
    case i: Int => i
    case l: Long => l.toInt
    case null => 0
    case other => other.toString.toInt
  }

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case null => 0L
    case other => other.toString.toLong
  }

  private def asStr(v: Any): String = v match {
    case null => ""
    case s: String => s
    case other => other.toString
  }

  private val LogCols =
    Seq("file", "leaf_id", "bytes", "mtime", "stats", "action")

  /** One log version's rows as (entry, action) plus whether the
    * version is a checkpoint. Driver-side read ([[MetaIO]]): log
    * versions are O(touched) deltas or one driver-sized checkpoint.
    */
  private def readLogVersion(spark: SparkSession, path: String,
      v: Int, upTo: Int): (Seq[(Entry5, String)], Boolean) = {
    val fs = fsFor(spark, path)
    val conf = hconf(spark)
    val fullP = new Path(logDir(path) + s"/v=$v.full")
    val dir = if (fs.exists(fullP)) fullP
      else new Path(logDir(path) + s"/v=$v")
    require(fs.exists(dir),
      s"ServingManifest log at $path: version $v missing below " +
        s"$upTo with no checkpoint in between — cannot fold")
    val cols = MetaIO.columnsOf(conf, fs, dir)
    val isDelta = cols.contains("action")
    val rows = MetaIO.read(conf, fs, dir, LogCols).map { r =>
      ((asStr(r(0)), asInt(r(1)), asLong(r(2)), asLong(r(3)),
        asStr(r(4))), if (isDelta) asStr(r(5)) else "add")
    }
    (rows, !isDelta)
  }

  /** The file-set AS OF a logged version: walk down from `version` to
    * the nearest checkpoint, then fold the deltas back up (removes
    * first, then adds, per version — a file replaced in place logs as
    * remove+add). Stats ride the fold: checkpoints carry the full
    * stats column, delta adds carry their file's stats (empty on
    * pre-r18 delta rows — conservative, never wrong). None when the
    * version is not in the log.
    */
  private def entriesAt5(spark: SparkSession, path: String,
      version: Int): Option[Array[Entry5]] = {
    val fs = fsFor(spark, path)
    if (!fs.exists(new Path(logDir(path) + s"/v=$version")) &&
        !fs.exists(new Path(logDir(path) + s"/v=$version.full")))
      return None
    var deltas = List.empty[Seq[(Entry5, String)]]
    var base: Seq[(Entry5, String)] = null
    var v = version
    while (base == null) {
      require(v >= 1,
        s"ServingManifest log at $path has no checkpoint at or below " +
          s"version $version")
      val (rows, isFull) = readLogVersion(spark, path, v, version)
      if (isFull) base = rows else { deltas ::= rows; v -= 1 }
    }
    val set = scala.collection.mutable.LinkedHashMap[String, Entry5]()
    base.foreach { case (e, _) => set(e._1) = e }
    deltas.foreach { d =>
      d.foreach { case (e, a) => if (a == "remove") set.remove(e._1) }
      d.foreach { case (e, a) => if (a == "add") set(e._1) = e }
    }
    Some(set.values.toArray)
  }

  /** The manifest DIRECTORY's rows (the latest checkpoint / legacy
    * live manifest) — driver-side.
    */
  private def manifestDirEntries(spark: SparkSession,
      path: String): Array[Entry5] = {
    val fs = fsFor(spark, path)
    val conf = hconf(spark)
    MetaIO.read(conf, fs, new Path(manifestDir(path)),
        Seq("file", "leaf_id", "bytes", "mtime", "stats"))
      .map(r => (asStr(r(0)), asInt(r(1)), asLong(r(2)), asLong(r(3)),
        asStr(r(4))))
      .toArray
  }

  /** The manifest directory's recorded install version (absent on
    * pre-mver manifests). */
  private def manifestMver(spark: SparkSession, path: String): Option[Int] =
    MetaIO.readHead(hconf(spark), fsFor(spark, path),
        new Path(manifestDir(path)), Seq("mver"))
      .flatMap(r => Option(r(0)).map(asInt))

  /** The LIVE entry set and whether the next install must force a
    * checkpoint to re-synchronize. Normally the fold of the log at
    * its latest version; a manifest dir AHEAD of the log (pre-r18
    * manifest-first install crashed before its log rename) is newer
    * than any fold and is served directly, with the heal flag set. A
    * layout with a manifest but no log (pre-log era) reads the
    * manifest dir and also heals on the next install.
    */
  private def liveState(spark: SparkSession,
      path: String): Option[(Array[Entry5], Boolean)] = {
    if (!exists(spark, path)) return None
    versions(spark, path).lastOption match {
      case None => Some((manifestDirEntries(spark, path), true))
      case Some(latest) =>
        val ahead = manifestMver(spark, path).exists(_ > latest)
        if (ahead) Some((manifestDirEntries(spark, path), true))
        else entriesAt5(spark, path, latest).map((_, false))
          .orElse(Some((manifestDirEntries(spark, path), true)))
    }
  }

  /** The live file-set's entries (None when the layout carries no
    * manifest) — the single authority every live consumer folds
    * from. Driver-materialized like every manifest consumer before
    * it: ~10⁶ short rows at 100 TB, tens of MB.
    */
  private[graft] def liveEntries5(spark: SparkSession,
      path: String): Option[Array[Entry5]] =
    liveState(spark, path).map(_._1)

  // ------------------------------------------------------------------
  // driver-side installs
  // ------------------------------------------------------------------

  private val DeltaSchema = MetaIO.schema(Seq(
    "file" -> 'S', "leaf_id" -> 'I', "bytes" -> 'L', "mtime" -> 'L',
    "stats" -> 'S', "action" -> 'S'))

  private val ManifestSchema = MetaIO.schema(Seq(
    "file" -> 'S', "leaf_id" -> 'I', "bytes" -> 'L', "mtime" -> 'L',
    "stats" -> 'S', "mver" -> 'I'))

  /** Write one log version dir via tmp + rename (a reader sees the
    * version in full or not at all).
    */
  private def writeLogDir(spark: SparkSession, path: String,
      name: String, rows: Iterator[Array[Any]],
      schema: org.apache.parquet.schema.MessageType): Unit = {
    val fs = fsFor(spark, path)
    val conf = hconf(spark)
    val tmp = new Path(logDir(path) + s"/.$name.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    MetaIO.write(conf, fs, tmp, schema, rows)
    val dst = new Path(logDir(path) + s"/$name")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"ServingManifest: cannot archive snapshot $dst")
  }

  /** Steady-state install: ONE O(delta) log dir, nothing else. */
  private def installDelta(spark: SparkSession, path: String, next: Int,
      delta: Seq[(Entry5, String)]): Unit =
    writeLogDir(spark, path, s"v=$next",
      delta.iterator.map { case (e, a) =>
        Array[Any](e._1, e._2, e._3, e._4, e._5, a)
      }, DeltaSchema)

  /** Full install: log CHECKPOINT first (the authority), then the
    * manifest dir rewrite (tmp + delete + rename — a reader racing
    * the swap sees the old manifest or none, never a half-written
    * one; the fold never needs the dir, so a crash between the two
    * renames costs nothing).
    */
  private def installFull(spark: SparkSession, path: String, next: Int,
      entries: Seq[Entry5]): Unit = {
    val fs = fsFor(spark, path)
    val conf = hconf(spark)
    def rows = entries.iterator.map(e =>
      Array[Any](e._1, e._2, e._3, e._4, e._5, next))
    writeLogDir(spark, path, s"v=$next.full", rows, ManifestSchema)
    val tmp = new Path(manifestDir(path) + ".tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    MetaIO.write(conf, fs, tmp, ManifestSchema, rows)
    val dst = new Path(manifestDir(path))
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"ServingManifest: cannot install $tmp")
  }

  /** Snapshot versions present in the log, ascending (empty for a
    * layout written before the log existed). Checkpoint (`v=N.full`)
    * and delta (`v=N`) versions alike.
    */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val fs = fsFor(spark, path)
    val dir = new Path(logDir(path))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v=") && !n.endsWith(".tmp"))
      .map(_.stripPrefix("v=").stripSuffix(".full").toInt)
      .sorted
  }

  /** (Re)build the manifest from a full listing of the layout —
    * always a checkpoint install.
    */
  def rebuild(spark: SparkSession, path: String): Unit = {
    val listed = listAll(spark, path)
    val cols = promotedCols(spark, path)
    val st =
      if (cols.isEmpty) Map.empty[String, String]
      else statsFor(spark, path, listed.map(_._1), cols)
    val entries = listed.map(e =>
      (e._1, e._2, e._3, e._4, st.getOrElse(e._1, "")))
    val next = versions(spark, path).lastOption.getOrElse(0) + 1
    installFull(spark, path, next, entries)
  }

  /** Relative data-file paths of the LIVE file-set (None when the
    * layout carries no manifest).
    */
  private[graft] def liveFiles(spark: SparkSession,
      path: String): Option[Seq[String]] =
    liveEntries5(spark, path).map(_.map(_._1).toSeq)

  /** Relative data-file paths AS OF a logged snapshot version (the
    * same fold [[openAt]] performs); None when the version is not in
    * the log.
    */
  private[graft] def filesAt(spark: SparkSession, path: String,
      version: Int): Option[Seq[String]] =
    entriesAt5(spark, path, version).map(_.map(_._1).toSeq)

  /** Files the live file-set gained or REWROTE since snapshot
    * `fromVersion` — the input to the incremental drift probes.
    * Driver-side: the baseline fold and the live fold share the same
    * log reads, and only bounded metadata is compared. Carrying the
    * (bytes, mtime) signatures (not just names) matters: an in-place
    * rewrite of an existing file followed by a reconcile is exactly
    * the side-channel-poisoning class the drift probes exist to
    * catch, and a name-only diff would never re-scan it. None when
    * `fromVersion` is not in the log (a rewrite reset it — callers
    * re-baseline with a full scan).
    */
  private[graft] def freshEntriesSince(spark: SparkSession, path: String,
      fromVersion: Int): Option[Array[(String, Int, Long, Long, String)]] =
    entriesAt5(spark, path, fromVersion).map { base =>
      val live = liveEntries5(spark, path).getOrElse(
        throw new IllegalStateException(
          s"freshEntriesSince: snapshot log but no manifest at $path"))
      val sig = base.map(e => e._1 -> ((e._3, e._4))).toMap
      live.filter(e => !sig.get(e._1).contains((e._3, e._4)))
    }

  /** Open a pre-collected manifest-entry subset through the same
    * [[ManifestFileIndex]] as [[open]] — zero filesystem stats (an
    * explicit-path `spark.read.parquet(files…)` re-validates and
    * re-stats every listed path on the driver; measured 5× slower
    * than the FULL manifest scan for a 10k-row appendage spread over
    * ~2k small files). The incremental maintenance probes read their
    * appended-files subset through this, with entries taken from the
    * one live fold [[freshEntriesSince]] diffed. None when the
    * subset is empty.
    */
  private[graft] def openEntriesSubset(spark: SparkSession, path: String,
      entries: Array[(String, Int, Long, Long, String)]): Option[DataFrame] =
    if (entries.isEmpty) None else Some(openEntries5(spark, path, entries))

  /** Record the manifest change after an append or rebalance touched
    * a bounded leaf set: list exactly those directories fresh and log
    * the difference as ONE delta version — cost proportional to the
    * TOUCHED leaves, never the layout (the pre-r18 implementation
    * rewrote the full manifest per append). Every
    * [[CheckpointInterval]]-th version folds the live set and
    * installs a checkpoint instead, bounding later fold depth.
    * After an unclean shutdown an operator runs [[verify]] first and
    * then reconciles the leaves holding drifted files (or
    * [[rebuild]]s): a lost delta rename leaves appended files on disk
    * but outside the fold, and nothing re-adds them unprompted.
    */
  def reconcile(spark: SparkSession, path: String,
      leaves: Seq[Int]): Unit = {
    if (!exists(spark, path)) return // pre-manifest layout: stay consistent
    val fs = fsFor(spark, path)
    val root = new Path(path)
    val touched = leaves.distinct
    val touchedSet = touched.toSet
    val freshListed = touched.flatMap { l =>
      val dir = new Path(root, s"leaf_id=$l")
      if (fs.exists(dir)) listLeafDir(fs, root, dir) else Nil
    }
    val statCols = promotedCols(spark, path)
    val st =
      if (statCols.isEmpty) Map.empty[String, String]
      else statsFor(spark, path, freshListed.map(_._1), statCols)
    val fresh: Seq[Entry5] = freshListed.map(e =>
      (e._1, e._2, e._3, e._4, st.getOrElse(e._1, "")))
    val (live, heal) = liveState(spark, path).getOrElse(return)
    val oldTouched = live.filter(e => touchedSet(e._2))
    // the delta is the EXACT change, by 4-field identity (stats derive
    // from content — bytes/mtime move whenever stats would)
    def key(e: Entry5) = (e._1, e._2, e._3, e._4)
    val freshKeys = fresh.map(key).toSet
    val oldKeys = oldTouched.map(key).toSet
    val delta: Seq[(Entry5, String)] =
      oldTouched.filter(e => !freshKeys(key(e))).map(e => (e, "remove")) ++
        fresh.filter(e => !oldKeys(key(e))).map(e => (e, "add"))
    val next = versions(spark, path).lastOption.getOrElse(0) + 1
    if (next == 1 || heal || next % CheckpointInterval == 0) {
      val entries = live.filter(e => !touchedSet(e._2)) ++ fresh
      installFull(spark, path, next, entries)
    } else installDelta(spark, path, next, delta)
  }

  /** Open the layout through the manifest: the scan's file statuses
    * come straight from the live fold via a [[ManifestFileIndex]] —
    * no directory listing, no per-file status probes; this is the
    * Delta/Iceberg architecture, a snapshot-backed FileIndex.
    * `leaf_id` stays a partition column served by the index, so
    * `graft_ann_probe` partition pruning works unchanged — the
    * In-list lands in `partitionFilters` and
    * [[ManifestFileIndex.listFiles]] evaluates it against the
    * manifest rows. The only per-open data I/O beyond the metadata
    * reads is ONE parquet footer (data schema). None when the layout
    * has no manifest.
    *
    * (An explicit-file-paths `spark.read.parquet(files…)` open was
    * measured FIRST and rejected: Spark re-validates and re-stats
    * every listed path on the driver — 32 s at 24.6k files vs 23.9 s
    * for the recursive listing it was meant to replace. The FileIndex
    * hands Spark the statuses it already trusts.)
    */
  def open(spark: SparkSession, path: String): Option[DataFrame] =
    liveEntries5(spark, path).map(openEntries5(spark, path, _))

  /** Open the layout AS OF a logged snapshot version — the file-set
    * the manifest named when that version was installed. Readable in
    * full as long as no rewriting mutation (compact/recluster) has
    * replaced the data files since; appends never invalidate it. A
    * reader that holds a snapshot sees the same rows query after
    * query, however many upserts land next to it.
    *
    * Reconstruction folds delta versions onto the nearest checkpoint
    * at-or-below `version` (≤ [[CheckpointInterval]]-1 small reads);
    * a log whose checkpoint is unreachable (manually truncated)
    * fails loudly rather than serving a partial file-set.
    */
  def openAt(spark: SparkSession, path: String,
      version: Int): Option[DataFrame] =
    entriesAt5(spark, path, version).map { es =>
      // time-travel opens carry no skip stats (conservative, as
      // documented): the pinned plan must not depend on live state
      openEntries5(spark, path, es.map(e => (e._1, e._2, e._3, e._4, "")))
    }

  /** Logical CHANGE FEED between two logged snapshot versions — the
    * change-data-feed analog over the snapshot log: which `id`s the
    * `to` snapshot serves that `from` didn't (`change = 'insert'`)
    * and which it no longer serves (`'delete'`). The diff is at the
    * ID level, not the file level: a spill copy living in two leaves
    * counts once, so the feed tracks the served corpus — what a
    * downstream incremental consumer keys on — not the layout. Both
    * endpoints inherit [[openAt]]'s pinning contract: any two
    * versions whose files still exist diff fine (appends never
    * invalidate older snapshots), while an interval that crosses a
    * rewriting mutation (rebalance/compact) fails loudly at read
    * time rather than fabricating a diff. The diff itself is two
    * distinct + anti-join passes, fully distributed, cost ∝ the two
    * snapshots' id sets — never a full-history fold.
    *
    * Registry-level state (LWW upsert supersedence, tombstoned ids —
    * [[graft.streaming.IndexMaintenance.readServing]]) is deliberately
    * NOT applied: the registry is shared across versions, so folding
    * it in would leak post-`to` deletes into the past. Compare
    * resolved views by resolving each side explicitly if that is the
    * question being asked.
    */
  def changesBetween(spark: SparkSession, path: String, id: String,
      from: Int, to: Int): DataFrame = {
    def idsAt(v: Int) = openAt(spark, path, v).getOrElse(sys.error(
        s"ServingManifest.changesBetween: version $v is not in the " +
          s"snapshot log at $path"))
      .select(col(id)).distinct()
    val a = idsAt(from)
    val b = idsAt(to)
    b.join(a, Seq(id), "left_anti")
      .select(col(id), lit("insert").as("change"))
      .unionAll(a.join(b, Seq(id), "left_anti")
        .select(col(id), lit("delete").as("change")))
  }

  /** [[changesBetween]] for SEVERAL intervals in one call — the shape
    * a CDC reader walking a version range actually issues. Each
    * DISTINCT endpoint version's id set is materialized once
    * (localCheckpoint — every set is joined up to twice across the
    * intervals) instead of once per interval side: n intervals over
    * k ≤ n+1 versions cost k snapshot scans, not 2n. Output rows are
    * exactly the per-interval [[changesBetween]] frames, keyed by
    * (v_from, v_to).
    */
  def changesBetween(spark: SparkSession, path: String, id: String,
      intervals: Seq[(Int, Int)]): DataFrame = {
    require(intervals.nonEmpty, "changesBetween: no intervals")
    val vs = intervals.flatMap { case (f, t) => Seq(f, t) }.distinct
    val ids = vs.map { v =>
      v -> openAt(spark, path, v).getOrElse(sys.error(
          s"ServingManifest.changesBetween: version $v is not in the " +
            s"snapshot log at $path"))
        .select(col(id)).distinct().localCheckpoint()
    }.toMap
    intervals.map { case (f, t) =>
      val a = ids(f)
      val b = ids(t)
      b.join(a, Seq(id), "left_anti")
        .select(lit(f).as("v_from"), lit(t).as("v_to"),
          lit("insert").as("change"), col(id))
        .unionAll(a.join(b, Seq(id), "left_anti")
          .select(lit(f).as("v_from"), lit(t).as("v_to"),
            lit("delete").as("change"), col(id)))
    }.reduce(_ unionAll _)
  }

  private def openEntries5(spark: SparkSession, path: String,
      entries: Array[(String, Int, Long, Long, String)]): DataFrame = {
    require(entries.nonEmpty,
      s"ServingManifest at $path lists no data files")
    // one footer read for the data schema (files carry no leaf_id —
    // it lives in the directory name, served by the index); .schema
    // is driver-side footer inference, no job
    val dataSchema = spark.read
      .parquet(path + "/" + entries.head._1).schema
    val index = new ManifestFileIndex(spark, new Path(path), entries)
    val relation = HadoopFsRelation(index, index.partitionSchema,
      dataSchema, None, new ParquetFileFormat,
      Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** Column set of the layout (the data schema + the `leaf_id`
    * partition column) at ONE-metadata-fold + ONE-footer cost. The
    * append paths need COLUMNS only (a schema-mismatch guard);
    * opening the layout for that materializes the full manifest into
    * a FileIndex — 10⁶ entries at 100 TB, paid per micro-batch.
    */
  private[graft] def layoutColumns(spark: SparkSession,
      path: String): Seq[String] =
    liveEntries5(spark, path) match {
      case None => spark.read.parquet(path).columns.toSeq
      case Some(es) =>
        require(es.nonEmpty,
          s"ServingManifest at $path lists no data files")
        spark.read.parquet(path + "/" + es.head._1)
          .schema.fieldNames.toSeq :+ "leaf_id"
    }

  /** Manifest-backed open when available, plain listing read
    * otherwise — the reader entry point.
    */
  def openOrRead(spark: SparkSession, path: String): DataFrame =
    open(spark, path).getOrElse(spark.read.parquet(path))

  /** Log retention (the Delta VACUUM analog, for the LOG only — data
    * files belong to the layout and are never touched): drop log
    * versions that no longer serve reconstruction of the most recent
    * `keep` versions. The cut point is the newest CHECKPOINT at or
    * below (latest − keep + 1): everything strictly below it is
    * deleted — those versions stop being reconstructable and
    * [[openAt]] returns None for them — while every kept version
    * still folds from a retained checkpoint. Without retention the
    * log grows forever (O(delta) per append, but appends never stop);
    * with it, steady state is ≤ keep + [[CheckpointInterval]] small
    * dirs. Returns the number of versions removed.
    */
  def truncate(spark: SparkSession, path: String, keep: Int): Int = {
    require(keep >= 1, s"truncate needs keep >= 1, got $keep")
    val fs = fsFor(spark, path)
    val vs = versions(spark, path)
    if (vs.length <= keep) return 0
    val cutoff = vs(vs.length - keep)
    // modern checkpoints are `v=N.full` — existence probes only, no
    // parquet reads: truncate runs on EVERY retained append
    // (IndexMaintenance keepVersions), so the common path must cost
    // file-status calls, not footer reads. Legacy full snapshots
    // named plain `v=N` (pre-delta format) need the schema probe;
    // only consulted when no modern checkpoint is at-or-below cutoff.
    def isCheckpoint(v: Int): Boolean =
      fs.exists(new Path(logDir(path) + s"/v=$v.full"))
    def isLegacyCheckpoint(v: Int): Boolean = {
      val p = new Path(logDir(path) + s"/v=$v")
      fs.exists(p) &&
        !MetaIO.columnsOf(hconf(spark), fs, p).contains("action")
    }
    (cutoff to 1 by -1).find(isCheckpoint)
      .orElse((cutoff to 1 by -1).find(isLegacyCheckpoint)) match {
      case None => 0 // no checkpoint at or below: nothing safely deletable
      case Some(base) =>
        val drop = vs.filter(_ < base)
        drop.foreach { v =>
          val full = new Path(logDir(path) + s"/v=$v.full")
          val plain = new Path(logDir(path) + s"/v=$v")
          if (fs.exists(full)) fs.delete(full, true)
          if (fs.exists(plain)) fs.delete(plain, true)
        }
        drop.length
    }
  }

  /** Drift check for specs and operators: files in the live fold but
    * not on disk (would fail a scan loudly) and files on disk but not
    * in the fold (would be silently invisible — the dangerous
    * direction). Byte sizes must match too: a rewritten-in-place file
    * is drift even when the name survives. The first step after an
    * unclean shutdown; non-zero drift is repaired by [[reconcile]].
    *
    * @return (missingOnDisk, unlistedOnDisk) — (0, 0) is consistent
    */
  def verify(spark: SparkSession, path: String): (Long, Long) = {
    val listed = listAll(spark, path).map(e => (e._1, e._3)).toSet
    val manifest = liveEntries5(spark, path)
      .map(_.map(e => (e._1, e._3)).toSet)
      .getOrElse(Set.empty)
    ((manifest -- listed).size.toLong, (listed -- manifest).size.toLong)
  }

  /** Compile restrict conjuncts into a per-file keep test over the
    * manifest's promoted-column (min, max) ranges — the ONE skipping
    * semantics, used both by [[ManifestFileIndex.listFiles]] at scan
    * time (resolved `AttributeReference`s) and by
    * [[estimateRestrict]] at plan time (unresolved `Column.expr`
    * attributes): a filter anchored on a promoted column with
    * numeric literals proves a file irrelevant when the file's range
    * cannot satisfy it. Recognized shapes: the comparison operators,
    * `In(attr, literals)` as an equality-disjunction, and arbitrary
    * AND/OR trees over them (evaluated as could-be-satisfied:
    * And needs both sides possible, Or either) — so a disjunctive
    * restrict like `a < 5 OR a >= 300` skips files too. Files
    * without stats for a column are always kept (conservative); any
    * unrecognized sub-shape is treated as always-satisfiable. Null
    * semantics are safe by construction: these comparisons are
    * null-rejecting, so a file whose non-null range is disjoint
    * cannot hold a qualifying row. None when NO node anywhere is
    * recognizable (caller skips the pass).
    */
  private[graft] def statsKeep(dataFilters: Seq[Expression])
      : Option[Map[String, (Double, Double)] => Boolean] = {
    import org.apache.spark.sql.catalyst.expressions._
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(u.name)
      // numeric up-casts are monotonic: the range check is unchanged
      case c: Cast => attr(c.child)
      case _ => None
    }
    def num(v: Any): Option[Double] = v match {
      case i: java.lang.Integer => Some(i.toDouble)
      case l: java.lang.Long => Some(l.toDouble)
      case s: java.lang.Short => Some(s.toDouble)
      case b: java.lang.Byte => Some(b.toDouble)
      case f: java.lang.Float => Some(f.toDouble)
      case d: java.lang.Double => Some(d)
      case dec: org.apache.spark.sql.types.Decimal => Some(dec.toDouble)
      case _ => None
    }
    // normalize to (left, right, op): catalyst comparison nodes at
    // scan time, UnresolvedFunction spellings from the Column API at
    // plan time (Spark 4's Column builds `col >= lit` as
    // UnresolvedFunction(">=") until the analyzer runs)
    def binOp(e: Expression): Option[(Expression, Expression, String)] =
      e match {
        case GreaterThanOrEqual(l, r) => Some((l, r, ">="))
        case GreaterThan(l, r) => Some((l, r, ">"))
        case LessThanOrEqual(l, r) => Some((l, r, "<="))
        case LessThan(l, r) => Some((l, r, "<"))
        case EqualTo(l, r) => Some((l, r, "="))
        case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if uf.arguments.size == 2 && uf.nameParts.size == 1 =>
          uf.nameParts.head match {
            case op @ (">=" | ">" | "<=" | "<") =>
              Some((uf.arguments(0), uf.arguments(1), op))
            case "=" | "==" =>
              Some((uf.arguments(0), uf.arguments(1), "="))
            case _ => None
          }
        case _ => None
      }
    // range test for `column <op> d` — literal-first spellings mirror
    def test(op: String, d: Double): (Double, Double) => Boolean =
      op match {
        case ">=" => (_, hi) => hi >= d
        case ">"  => (_, hi) => hi > d
        case "<=" => (lo, _) => lo <= d
        case "<"  => (lo, _) => lo < d
        case "="  => (lo, hi) => lo <= d && d <= hi
      }
    def mirror(op: String): String = op match {
      case ">=" => "<="
      case ">"  => "<"
      case "<=" => ">="
      case "<"  => ">"
      case "="  => "="
    }
    // In(attr, literals) — the equality-disjunction a multi-value
    // allow-list pushes — proves a file irrelevant when NO listed
    // value lands inside the range (∃-semantics, the same math as
    // estimateAllow); single-value INs usually reach here already
    // rewritten to EqualTo by OptimizeIn
    def inOp(e: Expression): Option[(String, Seq[Double])] = e match {
      case In(a, list) if list.nonEmpty && list.forall {
          case Literal(_, _) => true; case _ => false } =>
        val parsed = list.collect { case Literal(v, _) => num(v) }
        // every listed value must be numeric — a partially-parsed
        // list would skip files a non-numeric member might match
        if (parsed.forall(_.nonEmpty))
          attr(a).map(c => (c, parsed.flatten))
        else None
      case _ => None
    }
    // one LEAF check: comparison or In, against a single attribute's
    // range — None when the node shape isn't recognizable
    def leaf(f: Expression): Option[(String, (Double, Double) => Boolean)] =
      binOp(f).flatMap {
        case (a, Literal(v, _), op) =>
          for (c <- attr(a); d <- num(v)) yield (c, test(op, d))
        case (Literal(v, _), a, op) =>
          for (c <- attr(a); d <- num(v)) yield (c, test(mirror(op), d))
        case _ => None
      }.orElse(inOp(f).collect { case (c, ds) if ds.nonEmpty =>
        (c, (lo: Double, hi: Double) => ds.exists(d => lo <= d && d <= hi))
      })
    // RECURSIVE could-be-satisfied evaluator: And needs both sides
    // possible, Or needs either, a recognized leaf tests the range,
    // anything else is unknown (always possibly satisfied —
    // conservative). This makes DISJUNCTIVE restricts
    // (a < 5 OR a >= 300) file-skip, not just conjunct lists.
    var recognized = false
    def canSat(e: Expression)
        : Map[String, (Double, Double)] => Boolean = e match {
      case And(l, r) =>
        val (cl, cr) = (canSat(l), canSat(r))
        s => cl(s) && cr(s)
      case Or(l, r) =>
        val (cl, cr) = (canSat(l), canSat(r))
        s => cl(s) || cr(s)
      case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if uf.arguments.size == 2 && uf.nameParts.size == 1 &&
            (uf.nameParts.head == "and" || uf.nameParts.head == "or") =>
        val (cl, cr) = (canSat(uf.arguments(0)), canSat(uf.arguments(1)))
        if (uf.nameParts.head == "and") s => cl(s) && cr(s)
        else s => cl(s) || cr(s)
      case _ => leaf(e) match {
        case Some((c, ok)) =>
          recognized = true
          s => s.get(c).forall { case (lo, hi) => ok(lo, hi) }
        case None => _ => true
      }
    }
    val evals = dataFilters.map(canSat)
    if (!recognized) None
    else Some(stats => evals.forall(_(stats)))
  }

  /** File-level selectivity of a restrict conjunction, from the LIVE
    * fold's promoted-column stats — the planner input for
    * [[Serving.searchAdaptive]]'s pre-filter/post-filter decision.
    * Counts the exact files [[ManifestFileIndex.listFiles]] would
    * scan under these restricts (same [[statsKeep]] test), so the
    * estimate is an upper bound on bytes actually read, at the cost
    * of one in-memory pass over the manifest rows the session
    * already holds for planning. None when the layout carries no
    * manifest or no conjunct is stats-testable (no evidence — the
    * caller must assume unselective).
    */
  def estimateRestrict(spark: SparkSession, path: String,
      restricts: Seq[org.apache.spark.sql.Column])
      : Option[RestrictEstimate] =
    estimateRestrictBatch(spark, path, Seq(restricts)).head

  /** [[estimateRestrict]] for MANY conjunct-sets in ONE metadata fold
    * — [[estimateAllowBatch]]'s analog for arbitrary restrict
    * Columns: the per-query adaptive surfaces estimate every
    * distinct (allow-map, numeric-restriction) pair of a batch.
    * Per-set semantics identical to [[estimateRestrict]] (None =
    * that set has no stats-testable conjunct — no evidence).
    */
  def estimateRestrictBatch(spark: SparkSession, path: String,
      restrictSets: Seq[Seq[org.apache.spark.sql.Column]])
      : Seq[Option[RestrictEstimate]] = {
    if (restrictSets.isEmpty) return Nil
    if (promotedCols(spark, path).isEmpty)
      return restrictSets.map(_ => None)
    val keeps = restrictSets.map(rs => statsKeep(rs.map(
      org.apache.spark.sql.graftshim.Shims.catalystExpression)))
    if (keeps.forall(_.isEmpty)) return restrictSets.map(_ => None)
    val rows = liveEntries5(spark, path) match {
      case None => return restrictSets.map(_ => None)
      case Some(es) => es.map(e => (e._3, decodeStats(e._5)))
    }
    val totalBytes = rows.map(_._1).sum
    keeps.map(_.map { keep =>
      var keptFiles = 0L; var keptBytes = 0L
      rows.foreach { case (b, s) =>
        if (keep(s)) { keptFiles += 1; keptBytes += b }
      }
      RestrictEstimate(keptFiles, keptBytes, rows.length.toLong,
        totalBytes)
    })
  }

  /** File-level selectivity of a PER-QUERY allow-map (attribute →
    * allowed stringified values) from the live fold's promoted stats
    * — [[estimateRestrict]]'s analog for
    * [[Serving.searchBatchPerQueryAdaptive]]'s per-map plan decision.
    * The allow contract is a conjunction over attributes where each
    * conjunct is an equality-disjunction (`attr ∈ values`), so a file
    * is skippable iff SOME constrained attribute with promoted
    * numeric stats has NO numerically-parsable allowed value inside
    * the file's [min, max] (an equality can only hold inside the
    * range; a value that doesn't parse numerically can't equal any
    * value of a numerically-promoted column and contributes nothing).
    * Files without stats for a constrained attribute pass that
    * conjunct (conservative). None when the layout carries no
    * manifest/stats, the map constrains nothing, or no constrained
    * attribute appears in any file's stats — no evidence, the caller
    * must assume unselective.
    */
  def estimateAllow(spark: SparkSession, path: String,
      allow: Map[String, Seq[String]]): Option[RestrictEstimate] =
    estimateAllowBatch(spark, path, Seq(allow)).head

  /** [[estimateAllow]] for MANY maps in ONE metadata fold — the
    * adaptive per-query surfaces estimate every distinct allow-map of
    * a batch, and a per-map re-read would pay a Spark job each
    * (measured ~95 ms/map at 1024 manifest rows, `padapt` mode of
    * `git show 89d9bee:src/main/scala/graft/ScaleProbe.scala`); one
    * fold serves all maps in the same driver pass (pinned equal to
    * per-map [[estimateAllow]] in `ServingManifestSpec`).
    * Per-map semantics identical to [[estimateAllow]].
    */
  def estimateAllowBatch(spark: SparkSession, path: String,
      allows: Seq[Map[String, Seq[String]]])
      : Seq[Option[RestrictEstimate]] = {
    if (allows.isEmpty) return Nil
    if (promotedCols(spark, path).isEmpty) return allows.map(_ => None)
    val rows = liveEntries5(spark, path) match {
      case None => return allows.map(_ => None)
      case Some(es) => es.map(e => (e._3, decodeStats(e._5)))
    }
    val totalBytes = rows.map(_._1).sum
    allows.map { allow =>
      val parsed = allow.toSeq.map { case (a, vs) =>
        (a, vs.flatMap(v => scala.util.Try(v.trim.toDouble).toOption))
      }
      if (parsed.isEmpty) None
      else {
        var testable = false
        var keptFiles = 0L; var keptBytes = 0L
        rows.foreach { case (b, stats) =>
          if (parsed.exists(p => stats.contains(p._1))) testable = true
          val keep = parsed.forall { case (a, vals) =>
            stats.get(a).forall { case (lo, hi) =>
              vals.exists(v => lo <= v && v <= hi)
            }
          }
          if (keep) { keptFiles += 1; keptBytes += b }
        }
        if (!testable) None
        else Some(RestrictEstimate(keptFiles, keptBytes,
          rows.length.toLong, totalBytes))
      }
    }
  }
}

/** File-level restrict selectivity from manifest stats: the files a
  * restricted scan cannot skip, and their bytes — see
  * [[ServingManifest.estimateRestrict]].
  */
final case class RestrictEstimate(keptFiles: Long, keptBytes: Long,
    totalFiles: Long, totalBytes: Long) {
  /** Fraction of layout bytes a restricted scan must read (1.0 on an
    * empty layout — no evidence of selectivity). */
  def byteFraction: Double =
    if (totalBytes == 0L) 1.0 else keptBytes.toDouble / totalBytes
}

/** A [[FileIndex]] whose file statuses ARE the manifest rows — the
  * scan plans against the snapshot, the filesystem is only touched to
  * read data bytes. Partition pruning happens here: `listFiles`
  * receives the partition filters Catalyst extracted (e.g. the
  * `graft_ann_probe` In-list over `leaf_id`) and evaluates them per
  * leaf against the manifest, so a pruned query materializes statuses
  * for ONLY the probed leaves' files.
  *
  * Driver footprint is the manifest itself (one (path, leaf, bytes,
  * mtime) row per data file — the same class of driver-sized state as
  * the model sidecar, and exactly what a Delta/Iceberg snapshot holds
  * for planning).
  */
private[graft] final class ManifestFileIndex(
    spark: SparkSession, root: Path,
    entries: Array[(String, Int, Long, Long, String)]) extends FileIndex {

  private val qualifiedRoot =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root)

  override val partitionSchema: StructType =
    StructType(Seq(StructField("leaf_id", IntegerType, nullable = true)))

  // grouped once; a FileStatus per manifest row, no fs involved. The
  // per-file skip ranges (promoted-column stats) ride alongside.
  private lazy val byLeaf: Array[(Int, Array[(FileStatus, Map[String, (Double, Double)])])] =
    entries.groupBy(_._2).toArray.sortBy(_._1).map { case (l, es) =>
      (l, es.map { e =>
        (new FileStatus(e._3, false, 1, 128L * 1024 * 1024, e._4,
          new Path(qualifiedRoot, e._1)),
          ServingManifest.decodeStats(e._5))
      })
    }

  private lazy val leafLookup
      : Map[Int, Array[(FileStatus, Map[String, (Double, Double)])]] =
    byLeaf.toMap

  /** FILE skipping from `dataFilters` (the Delta data-skipping
    * analog): delegates to [[ServingManifest.statsKeep]] — shared
    * with the plan-time selectivity estimator so the estimate and
    * the scan skip the SAME files.
    */
  private def fileKeep(dataFilters: Seq[Expression])
      : Option[Map[String, (Double, Double)] => Boolean] =
    ServingManifest.statsKeep(dataFilters)

  private def toDir(l: Int,
      fss: Array[(FileStatus, Map[String, (Double, Double)])],
      keep: Option[Map[String, (Double, Double)] => Boolean])
      : Option[PartitionDirectory] = {
    val kept = keep match {
      case Some(k) => fss.filter(f => k(f._2))
      case None => fss
    }
    if (kept.isEmpty && fss.nonEmpty) None
    else Some(PartitionDirectory(InternalRow(l), kept.map(_._1)))
  }

  override def rootPaths: Seq[Path] = Seq(qualifiedRoot)

  /** The `graft_ann_probe` rewrite always prunes with a literal
    * In-list on `leaf_id`; serve it by LOOKUP instead of evaluating
    * the predicate against every leaf — at 10⁶ leaves that is the
    * difference between O(nProbe) and an 0.2 s full pass per query.
    * Any other predicate shape falls back to the general evaluation.
    */
  private def inListLeaves(f: Expression): Option[Seq[Int]] = f match {
    case org.apache.spark.sql.catalyst.expressions.In(
        _: AttributeReference, vs)
        if vs.forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Literal]) =>
      Some(vs.map(_.eval(InternalRow.empty) match {
        case i: Int => i
        case other => return None
      }))
    case org.apache.spark.sql.catalyst.expressions.InSet(
        _: AttributeReference, hs)
        if hs.forall(_.isInstanceOf[Int]) =>
      Some(hs.toSeq.map(_.asInstanceOf[Int]).sorted)
    case org.apache.spark.sql.catalyst.expressions.EqualTo(
        _: AttributeReference,
        org.apache.spark.sql.catalyst.expressions.Literal(i: Int, _)) =>
      Some(Seq(i))
    case _ => None
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = fileKeep(dataFilters)
    partitionFilters match {
      case Seq(single) =>
        inListLeaves(single) match {
          case Some(leaves) =>
            // sorted: same partition order as the general path
            return leaves.distinct.sorted.flatMap { l =>
              leafLookup.get(l).flatMap(fss => toDir(l, fss, keep))
            }
          case None => ()
        }
      case _ => ()
    }
    val pred = partitionFilters.reduceOption(And).map { f =>
      Predicate.createInterpreted(f.transform {
        case a: AttributeReference =>
          BoundReference(partitionSchema.fieldIndex(a.name),
            a.dataType, a.nullable)
      })
    }
    byLeaf.iterator
      .filter { case (l, _) => pred.forall(_.eval(InternalRow(l))) }
      .flatMap { case (l, fss) => toDir(l, fss, keep) }
      .toSeq
  }

  override def inputFiles: Array[String] =
    entries.map(e => new Path(qualifiedRoot, e._1).toString)

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = entries.map(_._3).sum
}
