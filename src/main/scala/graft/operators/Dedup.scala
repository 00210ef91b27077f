package graft.operators

import graft.functions.text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (fingerprint groupBy), exact n-gram Jaccard via inverted-index
  * join, MinHash+LSH banding, SimHash, and embedding-cosine pairs.
  *
  * Scale shapes:
  *  - exact: one hash shuffle on the fingerprint — the cheapest op.
  *  - Jaccard: explode→distinct→self-equi-join on shingle. The join
  *    key is the shingle, so co-occurrence is computed without a
  *    cross product; skew on ultra-common shingles is the known
  *    hazard (cap or salt them at 100 TB).
  *  - MinHash LSH: signatures are one groupBy; candidates come from
  *    per-band equi-joins (bucket join), NOT an OR-join (which would
  *    be a nested loop). Bands union + distinct.
  *  - SimHash / cosine: pairwise forms here are the correctness
  *    baseline; banding / IVF prune them at scale.
  */
object Dedup {

  val P = 1000000007L
  val MinhashA = Seq(131L, 137L, 139L, 149L, 151L, 157L, 163L, 167L)
  val MinhashB = Seq(17L, 29L, 41L, 53L, 67L, 79L, 97L, 113L)
  val SimhashBits = 60

  /** Keep the first row (by `order`) of every `key` group. */
  def exactFirst(df: DataFrame, key: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Distinct (id, shingle) pairs. Tokens are materialized into a
    * column first so the shingle lambda reads a bound array instead of
    * re-splitting the text per element.
    */
  def shingleSets(docs: DataFrame, id: String, textCol: String): DataFrame =
    docs.select(col(id), text.tokens(col(textCol)).as("__tk"))
      .select(col(id), explode(text.shinglesOfTokens(col("__tk"))).as("s"))
      .distinct()

  /** Every shingle with document frequency above this is dropped from
    * the inverted index AND the set sizes (both engines apply the same
    * cap, so the oracle still matches). The intermediate join size is
    * Σ df(s)² — without a cap, one stop-word-like shingle at 100 TB
    * makes a single join key quadratic in the corpus; with it, each
    * key contributes ≤ cap² rows. On the test corpora max df is 7–25,
    * so the cap drops nothing there; it exists for the tail.
    */
  val DefaultMaxShingleDf = 1000

  /** Exact pairwise n-gram Jaccard ≥ threshold via inverted index
    * (over the df-capped shingle space — see [[DefaultMaxShingleDf]]).
    * The shingle set is persisted for its three uses and released
    * before returning (the small pair result is localCheckpoint-ed).
    */
  def jaccardPairs(docs: DataFrame, id: String, textCol: String,
      threshold: Double, maxDocFreq: Int = DefaultMaxShingleDf): DataFrame = {
    // df cap via groupBy + semi-join, not a count-over-window: the
    // window sorts the whole (doc, shingle) relation per partition;
    // the aggregate is map-side combined and the keep-set join
    // shuffles only distinct shingles
    val sets = shingleSets(docs, id, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = sets.groupBy("s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select("s")
    val ds = sets.join(keep, Seq("s"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = ds.groupBy(id).agg(count(lit(1)).as("n"))
      val a = ds.select(col(id).as("da"), col("s"))
      val b = ds.select(col(id).as("db"), col("s"))
      val common = a.join(b, Seq("s")).filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("c"))
      common
        .join(sizes.select(col(id).as("da"), col("n").as("na")), "da")
        .join(sizes.select(col(id).as("db"), col("n").as("nb")), "db")
        .withColumn("jaccard",
          col("c").cast("double") / (col("na") + col("nb") - col("c")))
        .filter(col("jaccard") >= threshold)
        .select("da", "db", "jaccard")
        .localCheckpoint() // materialize so the shingle cache can drop
    } finally { ds.unpersist(); sets.unpersist(); () }
  }

  /** MinHash signatures: min over shingle hashes of (aᵢ·h+bᵢ) mod P. */
  def minhashSignatures(docs: DataFrame, id: String,
      textCol: String): DataFrame = {
    val sh = shingleSets(docs, id, textCol)
      .select(col(id), text.polyHash(col("s")).as("h"))
    val aggs = MinhashA.zip(MinhashB).zipWithIndex.map {
      case ((a, b), i) =>
        min((col("h") * a + b) % P).as(s"m${i + 1}")
    }
    sh.groupBy(id).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidates: equi-join per band of 2 rows, union, distinct.
    * The signature set is persisted first — its lineage (shingle +
    * hash pipeline) would otherwise be recomputed once per band side —
    * and released before returning (the candidate pairs are
    * localCheckpoint-ed).
    */
  def minhashCandidates(sig: DataFrame, id: String): DataFrame =
    minhashCandidatesWith(sig, id, 2)

  /** [[minhashCandidates]] at an arbitrary band width — the (b, r)
    * knob of the LSH S-curve P(candidate | s) = 1 − (1 − s^r)^b over
    * the 8 signature values (r must divide 8). Narrow bands (small r)
    * catch lower-similarity pairs at the cost of candidate volume;
    * `d_minhash_curve` prices the trade as a driver-checked table.
    */
  def minhashCandidatesWith(sig: DataFrame, id: String,
      rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && MinhashA.size % rowsPerBand == 0,
      s"rows per band must divide ${MinhashA.size}, got $rowsPerBand")
    val s = sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE pass per side: the b band keys explode to (band, key)
      // rows and match in a single equi-join — the same shape
      // [[minhashCandidatesAgainst]] documents for the incremental
      // path. The per-band-join union this replaces scanned each
      // side once PER BAND (2b scans + b joins; 8 joins at r=1),
      // with identical output: a pair is a candidate iff SOME band
      // matches in full, and the trailing distinct collapses
      // multi-band matches either way.
      val bands = MinhashA.indices.grouped(rowsPerBand).toSeq
      def exploded(as: String) = s.select(col(id).as(as),
        posexplode(array(bands.map(cols =>
          struct(cols.zipWithIndex.map { case (i, j) =>
            col(s"m${i + 1}").as(s"r$j") }: _*)): _*)).as(Seq("band", "k")))
      exploded("da").join(exploded("db"), Seq("band", "k"))
        .filter(col("da") < col("db"))
        .select("da", "db").distinct().localCheckpoint()
    } finally s.unpersist()
  }

  /** Incremental LSH candidates: NEW signatures against a persisted
    * signature STORE — the shape a streaming corpus runs per batch
    * (never store×store again). One pass over each side: the 4 band
    * keys explode to (band, key) rows and match in a single equi-join,
    * instead of [[minhashCandidates]]'s per-band joins (asymmetric
    * sides make the re-scan cost real — the store is the corpus). The
    * fresh side is a batch: its exploded keys are broadcast, so the
    * store scan joins without shuffling at all. Returns (da = store
    * id, db = new id), distinct.
    */
  def minhashCandidatesAgainst(store: DataFrame, fresh: DataFrame,
      id: String): DataFrame = {
    val bands = MinhashA.indices.grouped(2).toSeq
    def exploded(sig: DataFrame, as: String) = sig.select(col(id).as(as),
      posexplode(array(bands.map(cols =>
        struct(cols.zipWithIndex.map { case (i, j) =>
          col(s"m${i + 1}").as(s"r$j") }: _*)): _*)).as(Seq("band", "k")))
    exploded(store, "da")
      .join(broadcast(exploded(fresh, "db")), Seq("band", "k"))
      .select("da", "db").distinct().localCheckpoint()
  }

  /** Exact Jaccard for a GIVEN candidate pair set only (the verify
    * stage after LSH): shingle sets are built just for the docs the
    * pairs touch (semi-join pushdown), sizes come from those full
    * sets (no df cap — verification is exact), and a candidate pair
    * sharing no shingle verifies at 0.0 instead of disappearing.
    * Cost ∝ |pairs| × shingles-per-doc, independent of corpus size.
    */
  def jaccardOfPairs(docs: DataFrame, id: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    val ids = pairs.select(col("da").as(id))
      .unionAll(pairs.select(col("db").as(id))).distinct()
    val sh = shingleSets(docs.join(ids, Seq(id), "left_semi"), id, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = sh.groupBy(id).agg(count(lit(1)).as("n"))
      val common = pairs
        .join(sh.select(col(id).as("da"), col("s")), "da")
        .join(sh.select(col(id).as("db"), col("s")), Seq("db", "s"))
        .groupBy("da", "db").agg(count(lit(1)).as("c"))
      pairs
        .join(common, Seq("da", "db"), "left")
        .join(sizes.select(col(id).as("da"), col("n").as("na")), "da")
        .join(sizes.select(col(id).as("db"), col("n").as("nb")), "db")
        .select(col("da"), col("db"),
          coalesce(col("c").cast("double") /
            (col("na") + col("nb") - col("c")), lit(0.0)).as("jaccard"))
        .localCheckpoint()
    } finally { sh.unpersist(); () }
  }

  /** 60-bit SimHash over the shingle-hash multiset (Manku et al.
    * 2007 shape: simhash of weighted features; here features are
    * word-3-gram hashes with unit weight).
    *
    * Shingles, not tokens: on a shared-vocabulary corpus token-level
    * simhash bits are dominated by the common vocabulary — measured
    * at sf0.1, 13% of ALL pairs landed within Hamming 3 and the
    * byte-banded candidate join degenerated to 94% of the cross
    * product. Word order decorrelates the bits the same way it fixed
    * the SRP embedding (SparseEmbed.embedShingles).
    *
    * 60 bits from a ~30-bit hash: half 0 takes bits 0..29 of the
    * shingle hash, half 1 bits 0..29 of its square mod p (the same
    * nonlinear mix SrpLsh uses — squaring, unlike any LCG round,
    * breaks linear correlation; h² < 2⁶² stays bigint-safe). Wider
    * fingerprints make 15-bit bands possible (4 bands ⇒ Hamming ≤ 3
    * pigeonhole), 128× more selective than byte bands.
    */
  def simhash(docs: DataFrame, id: String, textCol: String): DataFrame = {
    val half = SimhashBits / 2
    val g = graft.pipeline.SparseEmbed.shingleHashes(docs, id, textCol)
      .select(col(id), posexplode(array(col("sh"),
        (col("sh") * col("sh")) % P)).as(Seq("half", "g")))
    val bitAggs = (0 until half).map { j =>
      sum(shiftright(col("g"), j).bitwiseAND(lit(1L)) * 2L - 1L).as(s"b$j")
    }
    val bits = g.groupBy(col(id), col("half")).agg(bitAggs.head, bitAggs.tail: _*)
    val packed = (0 until half).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    bits.select(col(id),
        (packed * when(col("half") === 0, 1L).otherwise(1L << half)).as("ph"))
      .groupBy(id).agg(sum("ph").as("simhash"))
  }

  /** Connected components over a near-dup pair set: iterative min-
    * label propagation until fixpoint. Turns pairwise matches into
    * duplicate CLUSTERS (the actual dedup unit — keep one doc per
    * component, not per pair).
    *
    * ONE action per round: the previous label rides along through the
    * union+groupBy (`old`), and the changed-label count is collected
    * by an accumulator during the localCheckpoint materialization —
    * no convergence-check join, no second pass. (A task retry can
    * overcount the accumulator; that only delays convergence by one
    * cheap extra round, never ends it early.)
    *
    * POINTER DOUBLING (Shiloach–Vishkin style): each round also joins
    * the label map with itself — label(v) ← min(neighbor labels,
    * label(label(v))). Labels are always node ids of the same
    * component, so the jump is well-defined and monotone; it
    * collapses chains exponentially, making rounds O(log diameter)
    * instead of O(diameter) — a pathological 10⁴-long near-dup chain
    * (iteratively edited document versions) converges in ~14 rounds,
    * not 10⁴. The extra per-round join is on the node-count-sized
    * label map, cheaper than the edge join it saves thousands of.
    */
  def connectedComponents(pairs: DataFrame, a: String = "da",
      b: String = "db", maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col(a).as("src"), col(b).as("dst"))
      .unionAll(pairs.select(col(b).as("src"), col(a).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    val enc = org.apache.spark.sql.Encoders.row(labels.schema)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val prop = edges.join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("label"))
      val jumped = labels.select(col("node"), col("label").as("mid"))
        .join(labels.select(col("node").as("mid"), col("label").as("jl")),
          "mid")
        .select(col("node"), col("jl").as("label"))
      // labels rows carry their current label as `old`; prop/jumped
      // rows have old = null (min() skips nulls, each node has exactly
      // one old)
      val merged = labels
        .select(col("node"), col("label"), col("label").as("old"))
        .unionAll(prop.withColumn("old",
          lit(null).cast(labels.schema("label").dataType)))
        .unionAll(jumped.withColumn("old",
          lit(null).cast(labels.schema("label").dataType)))
        .groupBy("node").agg(min("label").as("label"), min("old").as("old"))
      val acc = spark.sparkContext.longAccumulator(s"cc-changed-$i")
      val next = merged.mapPartitions { it =>
        it.map { r =>
          if (r.get(1) != r.get(2)) acc.add(1L)
          org.apache.spark.sql.Row(r.get(0), r.get(1))
        }
      }(enc).localCheckpoint() // the round's single action
      changed = acc.value
      labels = next
      i += 1
    }
    edges.unpersist()
    // silent partial propagation would mis-split components — fail
    // loudly instead (pointer doubling needs O(log diameter) rounds;
    // a hit here means something is deeply wrong, not a long chain)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"($changed labels still changing)")
    labels.withColumnRenamed("node", a).withColumnRenamed("label", "cluster_id")
  }

  /** All pairs within `maxHamming` of each other's SimHash —
    * brute-force baseline (the recall oracle for the banded path;
    * run on samples at scale).
    */
  def simhashPairs(sim: DataFrame, id: String, maxHamming: Int): DataFrame = {
    val a = sim.select(col(id).as("da"), col("simhash").as("sa"))
    val b = sim.select(col(id).as("db"), col("simhash").as("sb"))
    a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("hd", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("bigint"))
      .filter(col("hd") <= maxHamming)
      .select("da", "db", "hd")
  }

  /** Sub-quadratic SimHash near-dup pairs: the 60-bit hash is split
    * into 4 bands of 15 bits; two hashes within Hamming distance 3
    * differ in ≤ 3 bands, so they AGREE on at least one (pigeonhole) —
    * per-band equi-joins therefore generate every qualifying pair, and
    * the exact Hamming filter verifies candidates only. Same bucketed
    * shape as [[minhashCandidates]]: 4 equi-joins, each
    * hash-partitioned on its 2¹⁵-value band key, no cross product
    * anywhere. At corpus scale widen further (e.g. 4×16-bit bands of a
    * 64-bit SimHash) to keep bucket sizes sub-quadratic. EXACT:
    * returns precisely the `simhashPairs(_, _, maxHamming)` set for
    * maxHamming ≤ 3.
    */
  def simhashBandedPairs(sim: DataFrame, id: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4 bands guarantee recall only for Hamming <= 3, got $maxHamming")
    val s = sim.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE pass per side (the [[minhashCandidatesWith]] shape): the
      // 4 band keys explode to (band, key) rows and match in a single
      // equi-join instead of 4 per-band joins (8 scans). A pair
      // agreeing on several bands collapses in the same distinct the
      // union form needed.
      def exploded(as: String, sh: String) = s.select(col(id).as(as),
        col("simhash").as(sh),
        posexplode(array((0 until 4).map { bi =>
          shiftright(col("simhash"), bi * (SimhashBits / 4))
            .bitwiseAND(lit((1L << (SimhashBits / 4)) - 1L))
        }: _*)).as(Seq("band", "k")))
      exploded("da", "sa").join(exploded("db", "sb"), Seq("band", "k"))
        .filter(col("da") < col("db"))
        .select("da", "db", "sa", "sb").distinct()
        .withColumn("hd",
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("bigint"))
        .filter(col("hd") <= maxHamming)
        .select("da", "db", "hd")
        .localCheckpoint()
    } finally s.unpersist()
  }

  /** Corpus-wide LINE dedup — the C4 span-dedup shape (Raffel et al.
    * 2020 §2.2 removes all but one of any repeated three-sentence
    * span; line granularity here, the same algebra): every non-empty
    * trimmed line keeps exactly its FIRST occurrence in (doc, line
    * position) order and drops every other copy, across the whole
    * corpus. Returns one row per surviving line OCCURRENCE:
    * (id, pos, line, kept).
    *
    * Scale shape: occurrences group on the line's md5 FINGERPRINT —
    * a 32-char shuffle key instead of arbitrarily long line text —
    * in ONE shuffle; the canonical occurrence is `min(struct(id,
    * pos))`, a partial-aggregable min, so map-side combine bounds
    * the skew of boilerplate lines that repeat millions of times (no
    * group ever materializes its members, unlike a window over the
    * line key). The kept-occurrence join back is fingerprint-keyed
    * and carries two small columns per distinct line.
    */
  /** EXACT-SUBSTRING duplication profile at token-window granularity
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — ExactSubstr: memorization-driving repeats are
    * exact token runs, not whole lines or whole docs): every
    * stride-1 window of `w` tokens is fingerprinted with md5
    * (128-bit); a window whose fingerprint occurs more
    * than once ANYWHERE in the corpus (other docs or the same doc —
    * ExactSubstr counts both) is a duplicated span. Returns one row
    * per doc: (id, n_windows, dup_windows).
    *
    * FINGERPRINT WIDTH (r13 verdict #3): any fp collision is a FALSE
    * duplicate mark, so the key must stay collision-free at the
    * design scale. The earlier ~30-bit polyHash (mod 1e9+7) is
    * pigeonhole-guaranteed to collide past ~10⁹ distinct windows —
    * at 100 TB (~10¹³ windows) the profile would be noise. md5's
    * 128 bits put the expected collision count for 10¹³ windows at
    * C(10¹³,2)/2¹²⁸ ≈ 1.5·10⁻¹³ — zero for all practical purposes
    * (same key [[lineDedup]] already uses).
    *
    * Scale shape: the window explode is ∝ total tokens (the honest
    * cost of substring-level dedup — Lee et al.'s suffix array is
    * also built over every token); fingerprint counts are a
    * partial-aggregable groupBy on the fixed-width key (map-side
    * combine bounds boilerplate skew exactly as [[lineDedup]]'s md5
    * key does), and the join back to windows is fingerprint-keyed
    * carrying one small count column. A window shorter than `w`
    * tokens contributes nothing (docs below `w` tokens profile as
    * 0 windows). The windowed fingerprint form finds every
    * duplicated span of length ≥ w — the standard distributed
    * approximation of the sequential suffix-array job.
    */
  def spanProfile(docs: DataFrame, id: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val wins = docs
      .select(col(id), graft.functions.text.tokens(col(textCol)).as("tk"))
      .select(col(id),
        explode(graft.functions.text.shinglesOfTokens(col("tk"), w))
          .as("win"))
      .select(col(id), graft.functions.text.md5Binary(col("win")).as("fp"))
    val counts = wins.groupBy("fp").agg(count(lit(1)).as("c"))
    wins.join(counts, "fp")
      .groupBy(id)
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_windows"))
  }

  /** Distinct window fingerprints of a corpus — the persisted STATE
    * of incremental exact-substring dedup (one integer row per
    * distinct `w`-token window; the span-level sibling of
    * `minhashSignatures`' signature store).
    */
  def spanFingerprints(docs: DataFrame, id: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    docs
      .select(col(id), graft.functions.text.tokens(col(textCol)).as("tk"))
      .select(explode(graft.functions.text.shinglesOfTokens(col("tk"), w))
        .as("win"))
      .select(graft.functions.text.md5Binary(col("win")).as("fp"))
      .distinct()
  }

  /** INCREMENTAL exact-substring profile — [[spanProfile]] for an
    * arriving batch against a persisted fingerprint STORE
    * ([[spanFingerprints]]): a batch window is duplicated iff its
    * fingerprint exists in the store OR occurs more than once within
    * the batch itself (ExactSubstr over store ∪ batch, with the
    * store already canonical). Per batch doc: (id, n_windows,
    * dup_windows) — batch docs only, the store never re-profiles.
    *
    * Scale shape: the batch fingerprints its own windows only; the
    * store enters through ONE fingerprint-keyed join where the batch
    * side is the small one (AQE broadcasts it onto the store scan —
    * the store never shuffles, `d_dedup_incremental`'s economics at
    * the span level). Per-batch cost ∝ batch windows + store matches.
    */
  def spanProfileAgainst(storeFps: DataFrame, batch: DataFrame,
      id: String, textCol: String, w: Int): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val bw = batch
      .select(col(id), graft.functions.text.tokens(col(textCol)).as("tk"))
      .select(col(id),
        explode(graft.functions.text.shinglesOfTokens(col("tk"), w))
          .as("win"))
      .select(col(id), graft.functions.text.md5Binary(col("win")).as("fp"))
    val bc = bw.groupBy("fp").agg(count(lit(1)).as("cb"))
    val dupFps = bc
      .join(storeFps.select(col("fp"), lit(1).as("in_store")).distinct(),
        Seq("fp"), "left")
      .filter(col("cb") > 1 || col("in_store").isNotNull)
      .select("fp")
    bw.join(dupFps.withColumn("dup", lit(1L)), Seq("fp"), "left")
      .groupBy(id)
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("dup"), lit(0L))).as("dup_windows"))
  }

  /** EXACT-SUBSTRING CUT accounting — the removal half of
    * [[spanProfile]] (Lee et al. 2022 cut every duplicated span from
    * the corpus, keeping ONE canonical copy): for each duplicated
    * window fingerprint the canonical occurrence is the corpus-wide
    * smallest (id, pos) — the same partial-aggregable `min(struct)`
    * canonicalization as [[lineDedup]], no window sort over the
    * (possibly enormous) duplicate group — and every OTHER occurrence
    * marks its `w` token positions for removal. Overlapping marked
    * windows merge by position-distinct counting. Returns one row per
    * doc that loses tokens: (id, cut_tokens).
    *
    * Scale shape: windows ∝ tokens as [[spanProfile]]; the canonical
    * reduce is one groupBy on the integer fingerprint; the position
    * explode is w× the NON-CANONICAL window count (∝ duplicated
    * text, not the corpus).
    */
  def spanCut(docs: DataFrame, id: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val wins = docs
      .select(col(id), graft.functions.text.tokens(col(textCol)).as("tk"))
      .select(col(id),
        posexplode(graft.functions.text.shinglesOfTokens(col("tk"), w)))
      .select(col(id), col("pos"),
        graft.functions.text.md5Binary(col("col")).as("fp"))
    val canon = wins.groupBy("fp")
      .agg(min(struct(col(id), col("pos"))).as("first"),
        count(lit(1)).as("c"))
    wins.join(canon, "fp")
      .filter(col("c") > 1 &&
        !(col(id) === col("first").getField(id) &&
          col("pos") === col("first").getField("pos")))
      .select(col(id),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("p"))
      .groupBy(id)
      .agg(countDistinct("p").as("cut_tokens"))
  }

  /** EXACT-SUBSTRING REWRITE — the Lee et al. 2022 OUTPUT step
    * ([[spanCut]] counts what this removes): every duplicated
    * `w`-token window keeps its corpus-wide canonical occurrence
    * (smallest (id, pos), the [[spanCut]] rule) and every other
    * occurrence's token positions are cut; OVERLAPPING cut windows
    * merge by position (a token inside two marked windows is removed
    * once). Returns one row per input doc: (id, text_dedup) — the
    * surviving tokens in original order, single-space joined (the
    * token stream IS the rewrite's output unit; original whitespace
    * is not reconstructed, exactly as a token-level ExactSubstr
    * emits). Docs under `w` tokens pass through whitespace-normalized
    * but uncut; a doc whose every token is cut emits "".
    *
    * Scale shape: window fingerprinting as [[spanProfile]]
    * (∝ tokens); the cut-position explode is w× the NON-canonical
    * window count (∝ duplicated text); reassembly is one
    * (id, pos, token) anti-join against the cut positions and one
    * per-doc sort_array(collect_list) — both shuffles ∝ tokens,
    * per-group memory bounded by the single largest document.
    */
  def spanRewrite(docs: DataFrame, id: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val toks = docs
      .select(col(id), graft.functions.text.tokens(col(textCol)).as("tk"))
    val wins = toks
      .select(col(id),
        posexplode(graft.functions.text.shinglesOfTokens(col("tk"), w)))
      .select(col(id), col("pos"),
        graft.functions.text.md5Binary(col("col")).as("fp"))
    val canon = wins.groupBy("fp")
      .agg(min(struct(col(id), col("pos"))).as("first"),
        count(lit(1)).as("c"))
    val cutPos = wins.join(canon, "fp")
      .filter(col("c") > 1 &&
        !(col(id) === col("first").getField(id) &&
          col("pos") === col("first").getField("pos")))
      .select(col(id),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("p"))
      .distinct()
    val kept = toks
      .select(col(id), posexplode(col("tk")).as(Seq("p", "t")))
      .join(cutPos, Seq(id, "p"), "left_anti")
      .groupBy(id)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("p"), col("t")))),
          s => s.getField("t")), " ").as("text_dedup"))
    // one row per INPUT doc: a fully-cut (or token-less) doc has no
    // kept rows and would otherwise vanish from the output
    docs.select(col(id))
      .join(kept, Seq(id), "left")
      .select(col(id), coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  def lineDedup(docs: DataFrame, id: String, textCol: String): DataFrame = {
    val lines = docs
      .select(col(id), posexplode(split(col(textCol), "\n")))
      .select(col(id), col("pos"), trim(col("col")).as("line"))
      .filter(length(col("line")) > 0)
      .withColumn("fp", text.md5Binary(col("line")))
    val canon = lines.groupBy("fp")
      .agg(min(struct(col(id), col("pos"))).as("first"))
    lines.join(canon, "fp")
      .withColumn("kept", col(id) === col("first").getField(id) &&
        col("pos") === col("first").getField("pos"))
      .select(col(id), col("pos"), col("line"), col("kept"))
  }

  /** Doc-keyed window-fingerprint INDEX — (id, fp, c) with c the
    * window's within-doc multiplicity: the persisted train-side state
    * that makes DELTA decontamination ([[deconDelta]]) possible
    * without re-scanning the corpus. The span-dedup fingerprint
    * store's sibling, one partial-aggregable groupBy over the window
    * explode.
    */
  def spanWindowIndex(docs: DataFrame, id: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    docs
      .select(col(id), graft.functions.text.tokens(col(textCol)).as("tk"))
      .select(col(id),
        explode(graft.functions.text.shinglesOfTokens(col("tk"), w))
          .as("win"))
      .select(col(id), graft.functions.text.md5Binary(col("win")).as("fp"))
      .groupBy(id, "fp").agg(count(lit(1)).as("c"))
  }

  /** DELTA decontamination — the incremental form of
    * [[decontaminateWindows]] for the case production actually hits:
    * the training corpus is already screened against eval set v1 and
    * a NEW benchmark (v2 delta) arrives. Re-screening by re-scanning
    * 100 TB of train text per eval release is the naive bill; instead
    * the train side persists its window-fingerprint index ONCE
    * ([[spanWindowIndex]], the same explode the span-dedup store
    * already pays) and each eval delta joins against it: cost ∝
    * |new eval windows| + matches — the corpus text is never touched
    * again. Returns per train doc the contaminated-window count
    * against the NEW windows only (windows in `newEvalFps` minus
    * `oldEvalFps`); docs with no new hits are absent (left-join at
    * the call site, as the span family does).
    */
  def deconDelta(trainIndex: DataFrame, oldEvalFps: DataFrame,
      newEvalFps: DataFrame, id: String): DataFrame = {
    val fresh = newEvalFps.select("fp")
      .join(oldEvalFps.select("fp"), Seq("fp"), "left_anti")
      .distinct()
    trainIndex.join(fresh, Seq("fp"), "left_semi")
      .groupBy(id).agg(sum("c").as("new_contam_windows"))
  }

  /** Benchmark DECONTAMINATION at token-window granularity with a
    * BLOOM pre-filter — the scan-speed form of eval-set n-gram
    * decontamination LLM pipelines run before training (the reference
    * pipeline embeds whatever it is given; this is the guard that the
    * training corpus does not contain the benchmark — the window-level
    * sibling of the pairwise document rule in `p_decontaminate`):
    * a train doc is contaminated per stride-1 `w`-token window whose
    * fingerprint occurs anywhere in the eval corpus.
    *
    * Two-stage shape, both stages exact in the OUTPUT:
    *  1. a Bloom filter over the eval windows' 64-bit hashes (built
    *     once, a bounded byte array shipped as a plan literal)
    *     pre-filters the train window stream AT THE SCAN — windows
    *     the filter rejects are provably not in the eval set (no
    *     false negatives) and never reach a shuffle;
    *  2. the surviving candidates (true hits + the ε false-positive
    *     residue) verify through the exact fingerprint-keyed join
    *     against the distinct eval windows, so a Bloom false positive
    *     can never mark a doc — the output is bit-independent of the
    *     filter.
    *
    * Scale: at 100 TB the train side dominates (~10¹³ windows) while
    * the eval set is benchmark-sized (~10⁶–10⁸ windows → a filter of
    * MBs at 10 bits/key). Without the pre-filter the exact join
    * shuffles every train window on its fingerprint; with it the
    * shuffled volume is true-hits + ε·windows — at the standard 1%
    * false-positive sizing, ~100× less traffic through the verify
    * join on a mostly-clean corpus. Per-doc totals (`n_windows`)
    * partial-aggregate map-side and never join anything.
    *
    * Returns one row per train doc: (id, n_windows, contam_windows,
    * clean) — exact integers and an exact boolean.
    */
  def decontaminateWindows(train: DataFrame, evalDocs: DataFrame,
      id: String, textCol: String, w: Int,
      bitsPerKey: Long = 10): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val evalFps = spanFingerprints(evalDocs, id, textCol, w)
    // the filter is a bounded driver artifact (nKeys·bitsPerKey bits),
    // like the runtime filters InjectRuntimeFilter plans — the count
    // is one pass over the SMALL (eval) side only
    val nKeys = evalFps.count()
    val shims = org.apache.spark.sql.graftshim.Shims
    // an eval set with NO windows (every doc below w tokens, or empty)
    // means nothing can contaminate: the aggregate over zero rows
    // yields a NULL filter, so short-circuit instead of shipping a
    // null literal into might_contain
    val bloom = if (nKeys == 0) null
      else evalFps
        .agg(shims.bloomAgg(col("fp"), nKeys, nKeys * bitsPerKey).as("bf"))
        .head().getAs[Array[Byte]](0)
    val tw = train
      .select(col(id), graft.functions.text.tokens(col(textCol)).as("tk"))
      .select(col(id),
        explode(graft.functions.text.shinglesOfTokens(col("tk"), w))
          .as("win"))
      .select(col(id), graft.functions.text.md5Binary(col("win")).as("fp"))
    val totals = tw.groupBy(id).agg(count(lit(1)).as("n_windows"))
    val contam =
      (if (bloom == null) tw.filter(lit(false))
       else tw.filter(shims.bloomMightContain(bloom, col("fp"))))
        .join(evalFps, Seq("fp"), "left_semi")
        .groupBy(id).agg(count(lit(1)).as("contam_windows"))
    totals.join(contam, Seq(id), "left")
      .select(col(id), col("n_windows"),
        coalesce(col("contam_windows"), lit(0L)).as("contam_windows"),
        (coalesce(col("contam_windows"), lit(0L)) === 0L).as("clean"))
  }
}
