package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.text
import graft.operators.{IvfIndex, Knn}
import graft.pipeline.SparseEmbed
import graft.sources.MetadataStore
import org.apache.spark.sql.functions._

/** Reference-parity pipeline operators (SURVEY §2.1/2.2/2.3 and §3):
  * datapoint projection with restricts + crowding, metadata store LWW
  * upsert, point lookup, the full embed→score→top-k→metadata-join
  * search lifecycle (E3), and IVF leaf-pruned ANN search.
  */
object ReferencePipeline {

  import text.{sql => tsql}

  /** P4 analog (setup_vector_search.py:41-77): id, categorical
    * restricts, numeric restricts, crowding tag — flattened to
    * columns so parquet stats make every restrict pushdown-able.
    */
  private val rDatapoint = QueryDef.sqlChecked("r_datapoint_projection")(
    "SELECT md5(text) AS datapoint_id, doc_id, 'text' AS file_type, " +
      "'documentation' AS content_type, cast(length(text) as bigint) AS content_length, " +
      s"${tsql.tokenCount("text")} AS embedding_tokens, source AS crowding_tag " +
      "FROM documents ORDER BY doc_id"
  ) { (s, d) =>
    Tables.documents(s, d).select(
      md5(col("text")).as("datapoint_id"),
      col("doc_id"),
      lit("text").as("file_type"),
      lit("documentation").as("content_type"),
      length(col("text")).cast("bigint").as("content_length"),
      text.tokenCount(col("text")).as("embedding_tokens"),
      col("source").as("crowding_tag"))
      .orderBy("doc_id")
  }

  /** S2/S4 analog: append-only versions + last-write-wins resolve
    * (firestore_ops.py upsert semantics + STREAM_UPDATE dedup).
    */
  private val rMetadataLww = QueryDef.sqlChecked("r_metadata_lww")(
    "WITH log AS (SELECT doc_id, text, 1 AS version FROM documents " +
      "UNION ALL SELECT doc_id, text || ' updated-v2' AS text, 2 AS version " +
      "FROM documents WHERE doc_id % 10 = 0) " +
      "SELECT doc_id, version, cast(length(text) as bigint) AS content_length " +
      "FROM (SELECT doc_id, version, text, row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY version DESC) AS rn FROM log) " +
      "WHERE rn = 1 ORDER BY doc_id"
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val v1 = docs.select(col("doc_id"), col("text"), lit(1).as("version"))
    val v2 = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" updated-v2")).as("text"),
        lit(2).as("version"))
    MetadataStore.resolve(MetadataStore.append(v1, v2), "doc_id", col("version"))
      .select(col("doc_id"), col("version"),
        length(col("text")).cast("bigint").as("content_length"))
      .orderBy("doc_id")
  }

  /** S5 analog: point lookup by id (predicate pushed to parquet). */
  private val rPointLookup = QueryDef.sqlChecked("r_point_lookup")(
    "SELECT doc_id, source, lang, cast(length(text) as bigint) AS content_length " +
      "FROM documents WHERE doc_id = 42"
  ) { (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") === 42)
      .select(col("doc_id"), col("source"), col("lang"),
        length(col("text")).cast("bigint").as("content_length"))
  }

  val QueryText = "spark join stream table window group fast key"

  /** E3 end-to-end: embed query + corpus (sparse integer feature
    * hashing) → sparse dot score (a groupBy join, not a dense cross
    * product) → top-10 → join back to the metadata table (J2). Exact
    * oracle because every weight is an integer.
    */
  private val rSearchE2e = QueryDef.sqlChecked("r_search_e2e")(
    s"WITH ${SparseEmbed.sql.embedCte("docvec")}, " +
      "qtok AS (SELECT unnest(list_filter(string_split_regex(" +
      s"'$QueryText', '\\s+'), t -> t <> '')) AS t), " +
      s"qvec AS (SELECT ${tsql.polyHash("t")} % ${SparseEmbed.Dim} AS idx, " +
      s"cast(sum(((${tsql.polyHash("t")} >> 5) & 1) * 2 - 1) as bigint) AS qw " +
      "FROM qtok GROUP BY 1 HAVING sum(((" + tsql.polyHash("t") + " >> 5) & 1) * 2 - 1) <> 0) " +
      "SELECT s.doc_id, s.score, m.source, m.n_chars FROM " +
      "(SELECT d.doc_id, cast(sum(d.w * q.qw) as bigint) AS score " +
      "FROM docvec d JOIN qvec q ON d.idx = q.idx GROUP BY d.doc_id) s " +
      "JOIN documents m ON s.doc_id = m.doc_id " +
      "ORDER BY s.score DESC, s.doc_id LIMIT 10"
  ) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val docvec = SparseEmbed.embed(docs, "doc_id", "text")
    val qvec = SparseEmbed.embed(
      Seq((0L, QueryText)).toDF("qid", "text"), "qid", "text")
      .select(col("idx"), col("w").as("qw"))
    val scores = docvec.join(broadcast(qvec), "idx")
      .groupBy("doc_id")
      .agg(sum(col("w") * col("qw")).as("score"))
    scores.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
      .select("doc_id", "score", "source", "n_chars")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Build-once IVF index per sf dir (parquet + centroids kept in the
    * JVM) so probe queries measure PROBE latency, not the k-means
    * build — the serving-side number the Tree-AH contract is about.
    */
  private[queries] object IvfCache {
    final case class Entry(path: String, model: IvfIndex.Model)
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, Entry]
    def rebuild(s: org.apache.spark.sql.SparkSession, d: String): Entry = {
      val emb = Tables.embeddings(s, d)
      val (indexed, model) = IvfIndex.build(emb, "vec_id", "embedding", 16)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_" +
        java.lang.Integer.toHexString(d.hashCode)
      // data + model sidecar: every verify/bench run exercises the
      // durable-index path a fresh serving session would reopen
      IvfIndex.write(indexed, path, model)
      val e = Entry(path, model)
      cache.put(d, e)
      e
    }
    def get(s: org.apache.spark.sql.SparkSession, d: String): Entry =
      cache.getOrElse(d, rebuild(s, d))
  }

  /** IVF build, timed separately from the probe (sample-fit k-means +
    * one map-side assignment pass + partitioned write). The output
    * row is the build manifest, exact-checked against the corpus:
    * top-2 spill stores exactly 2 rows per vector, the leaf-size
    * contract (max stored leaf ≤ 500, the reference's
    * leaf_node_embedding_count) is emitted as a checked flag, and no
    * split fires on this corpus so num_leaves stays the requested 16.
    *
    * The manifest comes from `model.stats` — the corpus-size and
    * per-leaf aggregation passes the build ALREADY runs — instead of
    * re-reading the written parquet for two more full passes (the
    * round-3 `v_ann_build` regression was half verification overhead
    * billed to the build). One cheap ARTIFACT-side check remains:
    * the written parquet's row count must equal `stats.nRows` — a
    * column-less count-star over the artifact (parquet footers, no
    * data decode), so a row-losing bug in `IvfIndex.write` or in the
    * explode that builds `indexed` still fails this gate even though
    * the other manifest fields are build-time numbers.
    */
  private val vAnnBuild = QueryDef.sqlChecked("v_ann_build")(
    "SELECT cast(16 as bigint) AS num_leaves, " +
      "cast(count(*) as bigint) AS n_vectors, " +
      "cast(2 * count(*) as bigint) AS n_rows, " +
      "cast(1 as bigint) AS leaf_bound_ok, " +
      "cast(1 as bigint) AS artifact_rows_ok, " +
      "cast(1 as bigint) AS sidecar_ok FROM embeddings"
  ) { (s, d) =>
    import s.implicits._
    val e = IvfCache.rebuild(s, d)
    val st = e.model.stats
    val artifactRows = s.read.parquet(e.path).count()
    // durability gate: the model sidecar written alongside the data
    // must reopen to the exact build-time model (what a fresh serving
    // session would load)
    val reopened = IvfIndex.load(s, e.path)
    val sidecarOk = reopened.stats == st &&
      reopened.centroids.length == e.model.centroids.length &&
      reopened.centroids.zip(e.model.centroids).forall {
        case (a, b) => java.util.Arrays.equals(a, b)
      }
    Seq((e.model.centroids.length.toLong, st.nVectors, st.nRows,
      if (st.maxLeafRows <= IvfIndex.DefaultMaxLeafSize) 1L else 0L,
      if (artifactRows == st.nRows) 1L else 0L,
      if (sidecarOk) 1L else 0L))
      .toDF("num_leaves", "n_vectors", "n_rows", "leaf_bound_ok",
        "artifact_rows_ok", "sidecar_ok")
  }

  /** Hierarchical (two-level-fit) IVF build — the LARGE-leaf-count
    * build path, correctness-gated on the same invariants as
    * `v_ann_build`. [[IvfIndex.buildTwoLevel]] fits ~√L super-centroids
    * first, partitions the corpus by super, then fits each super's
    * share of the leaves independently; a one-shot k-means at
    * k ≥ ~10⁴ is not viable (MLlib's k-means|| init runs a
    * driver-local k-means at full k — measured >30 min at k=12 288
    * where the hierarchical fit takes minutes, PERF §round-7).
    * Gate invariants, all emitted as checked flags so a regression
    * hash-mismatches the oracle:
    * leaf count lands within 2× of the target (per-super share
    * rounding makes `numLeaves` a target, not an exact count), the
    * leaf-size bound holds exactly, top-2 spill stores exactly 2 rows
    * per vector, every vector is reachable (distinct-id coverage),
    * and an all-leaf probe ranks the query's own vector first
    * (searchability through the SAME assignment the one-level build
    * uses — buildTwoLevel shares finishBuild verbatim).
    */
  private val vAnnBuild2 = QueryDef.sqlChecked("v_ann_build2")(
    "SELECT cast(count(*) as bigint) AS n_vectors, " +
      "cast(2 * count(*) as bigint) AS n_rows, " +
      "cast(1 as bigint) AS leaf_count_ok, " +
      "cast(1 as bigint) AS leaf_bound_ok, " +
      "cast(1 as bigint) AS coverage_ok, " +
      "cast(1 as bigint) AS self_hit_ok FROM embeddings"
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val (indexed, model) = IvfIndex.buildTwoLevel(emb, "vec_id",
      "embedding", numLeaves = 16, maxLeafSize = 500)
    val idx = indexed.cache()
    try {
      val st = model.stats
      val l = model.centroids.length
      val coverage = idx.select("vec_id").distinct().count()
      val q = emb.filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val selfHit = IvfIndex.searchDf(idx, model, q, nProbe = l, k = 1,
        "vec_id", "embedding").select("vec_id").as[Long].head() == 7L
      Seq((st.nVectors, st.nRows,
        if (l >= 8 && l <= 32) 1L else 0L,
        if (st.maxLeafRows <= 500) 1L else 0L,
        if (coverage == st.nVectors) 1L else 0L,
        if (selfHit) 1L else 0L))
        .toDF("n_vectors", "n_rows", "leaf_count_ok", "leaf_bound_ok",
          "coverage_ok", "self_hit_ok")
    } finally { idx.unpersist(); () }
  }

  /** Incremental leaf rebalance of a SERVED index, gate-visible —
    * the maintenance tier between the `oversizedLeaves` signal and a
    * full recluster ([[graft.streaming.IndexMaintenance
    * .rebalanceOverflow]]): build a small served layout, push 40
    * naturally-spread upserts through `appendToServing` (sidecar
    * model, no rebuild), then split ONLY the overflowed leaves in
    * place — localized sub-fits, dynamic partition overwrite of the
    * affected directories, sidecar rewritten with the split model.
    * The k-means sub-fits aren't SQL-expressible, so the oracle
    * checks INVARIANTS as flags (a regression in any flips the hash):
    * overflow existed before, the bound holds after, no rows were
    * created or lost, id coverage is intact, and a fresh session
    * reopening the path finds both an original vector and its
    * appended-then-rebalanced near-copy. Fixed 250-vector subset so
    * the gate costs the same at every sf.
    */
  private val rRebalance = QueryDef.sqlChecked("r_rebalance")(
    "SELECT cast(count(*) as bigint) AS n_base, " +
      "cast(40 as bigint) AS n_appended, " +
      "cast(1 as bigint) AS overflow_before_ok, " +
      "cast(1 as bigint) AS bound_after_ok, " +
      "cast(1 as bigint) AS rows_ok, " +
      "cast(1 as bigint) AS coverage_ok, " +
      "cast(1 as bigint) AS search_ok " +
      "FROM embeddings WHERE vec_id < 250"
  ) { (s, d) =>
    import s.implicits._
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 250)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_rebal_" + java.lang.Integer.toHexString(d.hashCode))
    // fresh layout per run: appends are cumulative, and the gate must
    // see exactly build + one appended batch
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val (indexed, model) = IvfIndex.build(base, "vec_id", "v", 4)
    IvfIndex.write(indexed, servePath.toString, model)

    val donors = base.filter(col("vec_id") < 40)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val appends = Seq.tabulate(40) { i =>
      (900000L + i,
        donors(i.toLong).zipWithIndex.map { case (x, j) =>
          x + 0.01 * (((i + j) % 3) - 1)
        },
        1)
    }.toDF("vec_id", "v", "version")
    IndexMaintenance.appendToServing(s, servePath.toString, appends,
      "vec_id", "v", "version")

    val bound = 100
    val overBefore = IndexMaintenance
      .oversizedLeaves(s, servePath.toString, bound).count()
    // rows + distinct ids in ONE pass (they were two separate actions
    // — two full layout scans — for two scalars of the same frame)
    val beforeRow = s.read.parquet(servePath.toString)
      .agg(count(lit(1)), countDistinct(col("vec_id"))).head()
    val (rowsBefore, idsBefore) = (beforeRow.getLong(0), beforeRow.getLong(1))

    val (_, maxAfter) = IndexMaintenance.rebalanceOverflow(
      s, servePath.toString, "vec_id", "v", maxLeafSize = bound)

    val after = s.read.parquet(servePath.toString)
    val s2 = s.newSession()
    val m2 = IvfIndex.load(s2, servePath.toString)
    val hits = IvfIndex.search(s2, servePath.toString, m2,
      donors(3L).toArray, nProbe = math.min(8, m2.centroids.length),
      k = 5, "vec_id", "v")
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // same one-pass discipline as beforeRow
    val afterRow = after
      .agg(count(lit(1)), countDistinct(col("vec_id"))).head()
    Seq((emb.count(), 40L,
      if (overBefore >= 1) 1L else 0L,
      if (maxAfter <= bound) 1L else 0L,
      if (afterRow.getLong(0) == rowsBefore) 1L else 0L,
      if (afterRow.getLong(1) == idsBefore) 1L
      else 0L,
      if (hits.contains(3L) && hits.exists(_ >= 900000L)) 1L else 0L))
      .toDF("n_base", "n_appended", "overflow_before_ok",
        "bound_after_ok", "rows_ok", "coverage_ok", "search_ok")
  }

  /** IVF ANN probe (Tree-AH analog), gate-visible RECALL BOUND:
    * k-means assignment isn't SQL-expressible, so the check is mean
    * recall@10 over a fixed batch of 20 query vectors vs exact kNN —
    * deterministic build (seeded k-means over a HASH-selected fit set,
    * partition-layout-independent) ⇒ deterministic recall. Top-2 spill
    * assignment lifted measured recall@10 at nProbe=4/16 from
    * 0.68–0.76 to ≥0.8 across the sf dirs, so the gate bound is 0.8;
    * a regression in build, spill, or probe flips `recall_ok` to 0
    * and hash-mismatches the oracle.
    *
    * Scale shape: each query's probe list is exploded to
    * (qid, leaf_id) rows and equi-joined to the index on leaf_id
    * (broadcast here; shuffle-join on leaf_id at 100 TB) — candidates
    * are only the probed leaves' rows, never the full corpus per
    * query. Spill duplicates (same vector in two probed leaves)
    * collapse to one candidate row before ranking.
    *
    * ROUTING IS DISTRIBUTED: the probe list is the same
    * [[graft.functions.NearestCentroids]] expression the build's
    * assignment pass uses — top-nProbe over the query DataFrame, the
    * centroid matrix riding along as a codegen reference object — so
    * query vectors are never collected to the driver and the batch
    * path holds for 10⁶ queries exactly as for 20. Rank order
    * (ascending |c|² − 2·q·c, first-index ties) matches
    * Model.topLeaves, so probe lists — and the recall this query
    * gates on — are unchanged.
    */
  private val vAnnIvf = QueryDef.sqlChecked("v_ann_ivf")(
    "SELECT cast(20 as bigint) AS n_queries, cast(1 as bigint) AS recall_ok"
  ) { (s, d) =>
    import s.implicits._
    val entry = IvfCache.get(s, d)
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val qdf = q.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(entry.model, col("qv"), 4)))
    val index = s.read.parquet(entry.path)
    val scored = index.join(broadcast(qdf), "leaf_id")
      .select(col("qid"), col("vec_id"),
        graft.functions.vectors.dotProduct(col("embedding"), col("qv"))
          .as("score"))
      .dropDuplicates(Seq("qid", "vec_id"))
    val ivfTop = Knn.topKPerQuery(scored, 10, "qid", "vec_id", Knn.Dot)
    val exactScored = Knn.score(emb.select("vec_id", "embedding"),
      q, "embedding", "qv", Knn.Dot)
    val exactTop = Knn.topKPerQuery(exactScored, 10, "qid", "vec_id", Knn.Dot)
    val hits = ivfTop.select("qid", "vec_id")
      .join(exactTop.select("qid", "vec_id"), Seq("qid", "vec_id")).count()
    val nQ = q.count()
    val meanRecall = hits.toDouble / (nQ * 10.0)
    Seq((nQ, if (meanRecall >= 0.8) 1L else 0L))
      .toDF("n_queries", "recall_ok")
  }

  /** The COMPOSED ANN pipeline (assignment → leaf probe → restricts →
    * exact scoring → crowding → top-k) with FIXED, data-derived
    * centroids (the 8 embeddings at vec_id 0,64,…,448), so leaf
    * assignment is argmax-dot — exactly replicable in SQL and
    * hash-checked end to end (k-means is only swapped for fixed
    * centroids; every other stage is the production path).
    * Assignment is a pure map-side codegen expression
    * (IvfIndex.leafExpr); candidates are only the 2 probed leaves.
    */
  private val vAnnPipeline = QueryDef.sqlChecked("v_ann_pipeline")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, leaf_id FROM (" +
      "SELECT e.vec_id, c.cid AS leaf_id, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(cast(e.embedding as double[]), c.cv) DESC, c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(q.qv, c.cv) DESC, c.cid) AS rn FROM cent c, q) WHERE rn <= 2), " +
      "scored AS (SELECT e.vec_id, e.label, a.leaf_id, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid, q WHERE e.vec_id <> 7 AND e.vec_id >= 10), " +
      "crowded AS (SELECT vec_id, label, leaf_id, score FROM (" +
      "SELECT vec_id, label, leaf_id, score, row_number() OVER (" +
      "PARTITION BY label ORDER BY score DESC, vec_id) AS crn FROM scored) WHERE crn <= 2) " +
      "SELECT vec_id, cast(leaf_id as bigint) AS leaf_id, label, score " +
      "FROM crowded ORDER BY score DESC, vec_id LIMIT 8"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
      .toSeq
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    // probe: top-2 centroids by dot(query, c), cid-ascending tiebreak
    val probeLeaves = cents.zipWithIndex.map { case (c, i) =>
      var dot = 0.0; var j = 0
      val n = math.min(c.length, query.length)
      while (j < n) { dot += c(j) * query(j); j += 1 }
      (dot, i)
    }.sortBy { case (dot, i) => (-dot, i) }.take(2).map(_._2)
    val indexed = emb.withColumn("leaf_id",
      IvfIndex.leafExpr(col("embedding"), cents).cast("bigint"))
    val scored = indexed
      .filter(col("leaf_id").isin(probeLeaves.map(_.toLong): _*) &&
        col("vec_id") =!= 7 && col("vec_id") >= 10)
      .select(col("vec_id"), col("label"), col("leaf_id"),
        graft.functions.vectors.dotProduct(col("embedding"),
          typedLit(query.toSeq)).as("score"))
    val crowded = Knn.crowd(scored.withColumn("__q", lit(0)),
      2, "__q", "label", "vec_id", Knn.Dot)
    Knn.topK(crowded.select("vec_id", "leaf_id", "label", "score"),
      8, "vec_id", Knn.Dot)
  }

  /** SQL-TRANSPARENT ANN (SURVEY §4-3): the probe is not an API call
    * but a marker predicate — `AnnPruning.probe(...)` /
    * `graft_ann_probe(...)` in SQL text — that
    * [[graft.plans.AnnLeafPruningRule]] rewrites at plan time into
    * `leaf_id IN (top-nProbe leaves)` from the registered model, which
    * partition-prunes a `partitionBy(leaf_id)` index layout. Fixed
    * data-derived centroids (the v_ann_pipeline trick) make both the
    * assignment and the probe ranking — augmented-L2, |c|² − 2·q·c —
    * exactly SQL-replicable, so the whole rewrite path is hash-checked:
    * a wrong In-list (rule regression, ranking drift) changes the
    * candidate set and fails the oracle compare.
    */
  private val vAnnSql = QueryDef.sqlChecked("v_ann_sql")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) WHERE rn <= 2), " +
      "scored AS (SELECT e.vec_id, a.leaf_id, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid, q WHERE e.vec_id <> 7) " +
      "SELECT vec_id, cast(leaf_id as bigint) AS leaf_id, score " +
      "FROM scored ORDER BY score DESC, vec_id LIMIT 8"
  ) { (s, d) =>
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    graft.plans.IndexCatalog.register("v_ann_sql",
      IvfIndex.Model(cents.toArray))
    // assignment by the model's own geometry (min |c|²−2·x·c,
    // first-min tie) so assignment and probe agree with the oracle
    val indexed = emb.withColumn("leaf_id",
      IvfIndex.leafExprMinL2(col("embedding"), cents).cast("bigint"))
    indexed
      .filter(graft.plans.AnnPruning.probe("v_ann_sql", col("leaf_id"),
        query.toSeq, 2))
      .filter(col("vec_id") =!= 7)
      .select(col("vec_id"), col("leaf_id"),
        graft.functions.vectors.dotProduct(col("embedding"),
          typedLit(query.toSeq)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(8)
  }

  /** Written fixed-centroid index for the SQL-text E2E gate: the
    * 8-leaf assignment written `partitionBy(leaf_id)` once per JVM
    * per sf dir, so probe queries over the view partition-prune a
    * real on-disk layout.
    */
  private[queries] object E2eIdxCache {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def get(s: org.apache.spark.sql.SparkSession, d: String,
        cents: Seq[Array[Double]]): String =
      cache.getOrElseUpdate(d, {
        val emb = Tables.embeddings(s, d)
        val indexed = emb.withColumn("leaf_id",
          IvfIndex.leafExprMinL2(col("embedding"), cents).cast("bigint"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_e2e_" +
          java.lang.Integer.toHexString(d.hashCode)
        IvfIndex.write(indexed, path)
        path
      })
  }

  /** The TWO-LEVEL ROUTED probe, gate-visible: 48 fixed data-derived
    * leaf centroids in 4 fixed super-groups of 12 (router constructed
    * directly — Lloyd's is swapped for fixed supers exactly as
    * k-means is swapped for fixed centroids in v_ann_pipeline, so the
    * walk is SQL-replicable; everything else is the production routed
    * path). nProbe=2 → candidate target 32 < 48 leaves, so
    * Model.topLeaves takes the ROUTED branch: rank the 4 supers, walk
    * groups best-first until ≥32 candidates (= exactly 3 groups of
    * 12), exact-rank the 36 survivors, probe the top 2. The oracle
    * replicates that walk (top-3 super-groups is a static fact of the
    * constant group size); a routed-walk regression — wrong group
    * order, wrong stop condition, wrong leaf ranking — changes the
    * probed leaves and fails the hash.
    */
  private val vAnnRouted = QueryDef.sqlChecked("v_ann_routed")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id % 10 = 0 AND vec_id < 480), " +
      "sup AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid, " +
      "cast(embedding as double[]) AS sv FROM embeddings " +
      "WHERE vec_id IN (5,155,305,455)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "selg AS (SELECT sid FROM (SELECT s.sid, row_number() OVER (" +
      "ORDER BY list_inner_product(s.sv, s.sv) - " +
      "2 * list_inner_product(q.qv, s.sv), s.sid) AS rn FROM sup s, q) WHERE rn <= 3), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn " +
      "FROM cent c JOIN selg g ON c.cid // 12 = g.sid, q) WHERE rn <= 2), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1) " +
      "SELECT e.vec_id, cast(a.leaf_id as bigint) AS leaf_id, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid, q WHERE e.vec_id <> 7 " +
      "ORDER BY score DESC, e.vec_id LIMIT 8"
  ) { (s, d) =>
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val cents = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 480)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val supers = emb.filter(col("vec_id").isin(5L, 155L, 305L, 455L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    graft.plans.IndexCatalog.register("v_ann_routed",
      IvfIndex.Model(cents.toArray, IvfIndex.BuildStats.Unknown,
        Some(IvfIndex.Router(supers, Array.tabulate(cents.length)(_ / 12)))))
    // flat-in-k assignment (NearestCentroids, take=1): at 48 centroids
    // the composed array() form is already codegen-hostile; the
    // expression computes the identical |c|²−2·x·c ranking with the
    // identical first-min tie-break (non-augmented centroids use every
    // coordinate), so the oracle compare is unchanged
    val assign = org.apache.spark.sql.graftshim.Shims.column(
      graft.functions.NearestCentroids(
        org.apache.spark.sql.graftshim.Shims.expression(
          col("embedding").cast("array<double>")),
        org.apache.spark.sql.graftshim.Shims.expression(lit(0.0)),
        cents.toArray, 1))
    emb.withColumn("leaf_id", assign.getItem(0).cast("bigint"))
      .filter(graft.plans.AnnPruning.probe("v_ann_routed", col("leaf_id"),
        query.toSeq, 2))
      .filter(col("vec_id") =!= 7)
      .select(col("vec_id"), col("leaf_id"),
        graft.functions.vectors.dotProduct(col("embedding"),
          typedLit(query.toSeq)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(8)
  }

  /** The WHOLE reference search (E3) as ONE SQL text — the reference's
    * implied serving query end to end
    * (/root/reference/vector_store/setup_vector_search.py:45-76
    * restricts + crowding; common/config.py:32-33 top-k + dot
    * product): `graft_ann_probe` leaf pruning → restrict filters →
    * crowding window (≤2 per label) → `graft_top_k` partial-aggregate
    * shortlist → metadata join — every graft extension point
    * (optimizer rule + SQL aggregate + codegen scalar fn) exercised
    * together from plain SQL, full-hash-checked. Fixed data-derived
    * centroids (the v_ann_sql trick) keep assignment and probe
    * exactly SQL-replicable; the query vector is inlined via
    * round-trip-exact `Double.toString` casts.
    *
    * The index the SQL sees is a WRITTEN `partitionBy(leaf_id)`
    * parquet table (built+written once per JVM per sf dir), so the
    * probe's In-list lands in `partitionFilters` and unprobed leaves
    * are never listed or read — the gate runs the full serving story:
    * durable partitioned layout + SQL text + partition pruning.
    */
  private val vAnnSqlE2e = QueryDef.sqlChecked("v_ann_sql_e2e")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) WHERE rn <= 2), " +
      "cand AS (SELECT e.vec_id, e.label, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid, q WHERE e.vec_id <> 7 AND e.vec_id >= 10), " +
      "crowded AS (SELECT vec_id, label, score FROM (" +
      "SELECT vec_id, label, score, row_number() OVER (" +
      "PARTITION BY label ORDER BY score DESC, vec_id) AS crn FROM cand) WHERE crn <= 2), " +
      "ranked AS (SELECT vec_id, label, score, row_number() OVER (" +
      "ORDER BY score DESC, vec_id) AS rank FROM crowded) " +
      "SELECT vec_id, label, score, cast(rank as bigint) AS rank " +
      "FROM ranked WHERE rank <= 8 ORDER BY rank"
  ) { (s, d) =>
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    graft.plans.IndexCatalog.register("v_ann_sql_e2e",
      IvfIndex.Model(cents.toArray))
    // same model-geometry assignment as v_ann_sql (min |c|²−2·x·c);
    // the assigned table is WRITTEN partitionBy(leaf_id) once per JVM
    // per sf dir, and the SQL below reads the written layout
    val idxPath = E2eIdxCache.get(s, d, cents)
    s.read.parquet(idxPath).createOrReplaceTempView("graft_e2e_idx")
    emb.select(col("vec_id"), col("label"))
      .createOrReplaceTempView("graft_e2e_meta")
    // Double.toString round-trips exactly through cast('…' as double)
    val qArr = query.map(v => s"cast('$v' as double)")
      .mkString("array(", ",", ")")
    s.sql(
      s"""WITH cand AS (
         |  SELECT vec_id, label, graft_dot(embedding, $qArr) AS score
         |  FROM graft_e2e_idx
         |  WHERE graft_ann_probe('v_ann_sql_e2e', leaf_id, $qArr, 2)
         |    AND vec_id <> 7 AND vec_id >= 10
         |), crowded AS (
         |  SELECT vec_id, label, score FROM (
         |    SELECT vec_id, label, score, row_number() OVER (
         |      PARTITION BY label ORDER BY score DESC, vec_id) AS crn
         |    FROM cand) WHERE crn <= 2
         |), shortlist AS (
         |  SELECT graft_top_k(score, vec_id, 8) AS topk FROM crowded
         |), ranked AS (
         |  SELECT t.col.id AS vec_id, t.col.score AS score,
         |         cast(t.pos + 1 AS bigint) AS rank
         |  FROM shortlist LATERAL VIEW posexplode(topk) t AS pos, col
         |)
         |SELECT r.vec_id, m.label, r.score, r.rank
         |FROM ranked r JOIN graft_e2e_meta m ON r.vec_id = m.vec_id
         |ORDER BY r.rank""".stripMargin)
  }

  /** kNN SELF-join (top-3 neighbors for EVERY corpus vector) via
    * leaf-co-located joins — the scalable form of all-pairs similarity:
    * one equi-join on leaf_id instead of a cross product, candidates
    * bounded by leaf sizes, top-2 spill assignment widening recall
    * across leaf cuts. Fixed data-derived centroids (v_ann_pipeline
    * trick) make assignment argmax-dot, so candidate generation,
    * scoring, and ranking are all SQL-replicable and the operator
    * hash-checks end to end.
    */
  private val vKnnJoin = QueryDef.sqlChecked("v_knn_join")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,32,64,96,128,160,192,224,256,288,320,352,384,416,448,480)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(cast(e.embedding as double[]), c.cv) DESC, c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn <= 2), " +
      "pairs AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid " +
      "FROM assign a JOIN assign b ON a.leaf_id = b.leaf_id AND a.vec_id <> b.vec_id), " +
      "scored AS (SELECT p.qid, p.nid, " +
      "list_inner_product(cast(x.embedding as double[]), cast(y.embedding as double[])) AS score " +
      "FROM pairs p JOIN embeddings x ON x.vec_id = p.qid " +
      "JOIN embeddings y ON y.vec_id = p.nid) " +
      "SELECT qid, nid, score, rn FROM (SELECT qid, nid, score, " +
      "row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn " +
      "FROM scored) WHERE rn <= 3 ORDER BY qid, rn"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    // 16 centroids (vs v_ann_pipeline's 8): smaller leaves halve the
    // per-leaf candidate volume of the self-join
    val centIds = (0 until 16).map(_ * 32L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toSeq).toSeq
    // top-2 spill assignment against the fixed centroids: argmax dot,
    // then argmax with the winner masked out (ties to the lowest cid
    // on both steps, matching the oracle's rank order)
    val indexed = emb
      .withColumn("__s", array(cents.map(c =>
        graft.functions.vectors.dotProduct(col("embedding"), typedLit(c))): _*))
      .withColumn("__l1",
        (array_position(col("__s"), array_max(col("__s"))) - 1).cast("int"))
      .withColumn("__m", transform(col("__s"), (x, i) =>
        when(i === col("__l1"), lit(Double.NegativeInfinity)).otherwise(x)))
      .withColumn("__l2",
        (array_position(col("__m"), array_max(col("__m"))) - 1).cast("int"))
      .select(col("vec_id"), col("embedding"),
        explode(array(col("__l1"), col("__l2"))).as("leaf_id"))
    Knn.knnJoinPerLeaf(indexed, "vec_id", "embedding", 3, Knn.Dot)
      .select("qid", "nid", "score", "rn")
      .orderBy("qid", "rn")
  }

  /** Index MAINTENANCE lifecycle, hash-checked end to end: upsert
    * batches append to a real parquet log (IndexMaintenance.appendBatch
    * ×2 — every vector at version 1, then 20 vectors re-embedded as
    * their negation at version 2), the live corpus resolves
    * last-write-wins, and a RECLUSTER assigns every live vector to
    * fixed data-derived centroids (the same fixed-centroid trick as
    * v_ann_pipeline: k-means is swapped for argmax-dot so the oracle
    * can replicate assignment exactly; append/LWW/assign/compact are
    * the production path). Output is the per-leaf compaction summary.
    * A stale read (version 1 surviving) flips ~20 assignments —
    * negated vectors land in different leaves — and fails the hash.
    */
  private val rRecluster = QueryDef.sqlChecked("r_recluster")(
    "WITH log AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings UNION ALL " +
      "SELECT vec_id, list_transform(cast(embedding as double[]), x -> -x), 2 " +
      "FROM embeddings WHERE vec_id % 25 = 0), " +
      "live AS (SELECT vec_id, v FROM (SELECT vec_id, v, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY version DESC) AS rn FROM log) WHERE rn = 1), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv " +
      "FROM live WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, c.cid, row_number() OVER (PARTITION BY l.vec_id " +
      "ORDER BY list_inner_product(l.v, c.cv) DESC, c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn = 1) " +
      "SELECT cast(leaf_id as bigint) AS leaf_id, count(*) AS n_vectors, " +
      "cast(sum(vec_id) as bigint) AS sum_vec_id " +
      "FROM assign GROUP BY leaf_id ORDER BY leaf_id"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val v1 = emb.withColumn("version", lit(1))
    val v2 = emb.filter(col("vec_id") % 25 === 0)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    val logPath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_reclog_" + java.lang.Integer.toHexString(d.hashCode))
    // append-only log: wipe between runs so reruns see exactly 2 batches
    if (java.nio.file.Files.exists(logPath)) {
      java.nio.file.Files.walk(logPath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    IndexMaintenance.appendBatch(v1, logPath.toString)
    IndexMaintenance.appendBatch(v2, logPath.toString)
    val live = IndexMaintenance.liveCorpus(s, logPath.toString, "vec_id", "version")
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = live.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray).toSeq
    live.withColumn("leaf_id",
        IvfIndex.leafExpr(col("v"), cents).cast("bigint"))
      .groupBy("leaf_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum("vec_id").cast("bigint").as("sum_vec_id"))
      .orderBy("leaf_id")
  }

  /** S4 STREAM_UPDATE end to end with a REAL Structured Stream
    * (index_manager.py:53 — the reference's index update mode):
    * three time-ordered micro-batches of vector upserts flow through
    * `StreamUpdate.startUpsertStream` (foreachBatch parquet appends)
    * into the index log — every vector at version 1, then ~4% of ids
    * re-embedded as their negation (v2), then half of those
    * re-embedded again at 3× (v3) — the live corpus resolves
    * last-write-wins, and a fixed-centroid recluster summarizes per
    * leaf. Versions 2 and 3 MOVE vectors between leaves (negation
    * flips every dot product; 3× rescale shifts the argmax field), so
    * a dropped micro-batch, stale LWW read, or duplicated append
    * changes assignments and fails the full-hash oracle compare.
    */
  private val rStreamUpsert = QueryDef.sqlChecked("r_stream_upsert")(
    "WITH log AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings UNION ALL " +
      "SELECT vec_id, list_transform(cast(embedding as double[]), x -> -x), 2 " +
      "FROM embeddings WHERE vec_id % 25 = 0 UNION ALL " +
      "SELECT vec_id, list_transform(cast(embedding as double[]), x -> 3*x), 3 " +
      "FROM embeddings WHERE vec_id % 50 = 0), " +
      "live AS (SELECT vec_id, v FROM (SELECT vec_id, v, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY version DESC) AS rn FROM log) WHERE rn = 1), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv " +
      "FROM live WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, c.cid, row_number() OVER (PARTITION BY l.vec_id " +
      "ORDER BY list_inner_product(l.v, c.cv) DESC, c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn = 1) " +
      "SELECT cast(leaf_id as bigint) AS leaf_id, count(*) AS n_vectors, " +
      "cast(sum(vec_id) as bigint) AS sum_vec_id " +
      "FROM assign GROUP BY leaf_id ORDER BY leaf_id"
  ) { (s, d) =>
    import graft.streaming.{FileStreamFixture, StreamUpdate}
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val b0 = emb.withColumn("version", lit(1))
    val b1 = emb.filter(col("vec_id") % 25 === 0)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    val b2 = emb.filter(col("vec_id") % 50 === 0)
      .withColumn("v", transform(col("v"), x => x * 3))
      .withColumn("version", lit(3))
    val streamDir = FileStreamFixture.write("supsert", d,
      "vector upserts; b0 all v1, b1 %25 negated v2, b2 %50 3x v3",
      Seq(b0, b1, b2))
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_supsert_log_" + java.lang.Integer.toHexString(d.hashCode))
    // fresh log + checkpoint per run: the stream must replay exactly
    // 3 micro-batches (a reused checkpoint would skip them; a reused
    // log would double-append)
    if (java.nio.file.Files.exists(base)) {
      java.nio.file.Files.walk(base).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val logPath = base.resolve("log").toString
    val ckpt = base.resolve("ckpt").toString
    graft.SessionConf.withStreamShuffle(s) {
      val q = StreamUpdate.startUpsertStream(
        s.readStream.schema(b0.schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet")
          .parquet(streamDir),
        logPath, ckpt)
      q.awaitTermination()
    }
    val live = StreamUpdate.readResolved(s, logPath, "vec_id", "version")
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = live.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray).toSeq
    live.withColumn("leaf_id",
        IvfIndex.leafExpr(col("v"), cents).cast("bigint"))
      .groupBy("leaf_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum("vec_id").cast("bigint").as("sum_vec_id"))
      .orderBy("leaf_id")
  }

  /** Incremental upsert into the SERVED index — the reference's
    * no-rebuild STREAM_UPDATE promise (`upsert_datapoints`,
    * setup_vector_search.py:149-153: new points searchable
    * immediately) as a full-hash gate. A fixed-centroid index is
    * WRITTEN (data + sidecar); two upsert batches then flow through
    * `IndexMaintenance.appendToServing` — each reloads the model from
    * the sidecar, assigns to the EXISTING leaves (top-2 spill, the
    * build's convention) and appends into the `partitionBy(leaf_id)`
    * layout — and a `graft_ann_probe` search over the served path
    * returns the upserted vectors with NO recluster: the top hit is
    * vec_id 0's version-3 vector (3·v0 against query v0), which did
    * not exist at build time. LWW rides the delta registry: id 0 has
    * v1, v2 AND v3 rows in probed leaf 0, so a stale read (any
    * superseded version surviving) adds rows and fails the hash.
    */
  private val rStreamServe = QueryDef.sqlChecked("r_stream_serve")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "up AS (SELECT vec_id, list_transform(v, x -> -x) AS v, 2 AS version " +
      "FROM base WHERE vec_id % 25 = 0 " +
      "UNION ALL SELECT vec_id, list_transform(v, x -> 3*x), 3 " +
      "FROM base WHERE vec_id % 50 = 0 " +
      "UNION ALL SELECT vec_id + 100000, list_transform(v, x -> 2*x), 1 " +
      "FROM base WHERE vec_id % 40 = 7), " +
      "log AS (SELECT * FROM base UNION ALL SELECT * FROM up), " +
      "delta AS (SELECT vec_id, max(version) AS latest FROM up GROUP BY vec_id), " +
      "live AS (SELECT l.vec_id, l.v, l.version FROM log l " +
      "LEFT JOIN delta d ON l.vec_id = d.vec_id " +
      "WHERE d.latest IS NULL OR l.version = d.latest), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 0), " +
      "assign AS (SELECT vec_id, version, v, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, l.version, l.v, c.cid, row_number() OVER (" +
      "PARTITION BY l.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) WHERE rn <= 3), " +
      "cand AS (SELECT a.vec_id, a.version, a.leaf_id, " +
      "list_inner_product(a.v, q.qv) AS score " +
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid, q) " +
      "SELECT vec_id, cast(max(version) as bigint) AS version, " +
      "cast(min(leaf_id) as bigint) AS leaf_id, max(score) AS score " +
      "FROM cand GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 15"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 0)
      .select(col("v")).head().getSeq[Double](0)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_serve_" + java.lang.Integer.toHexString(d.hashCode))
    // fresh layout per run: appends are cumulative, and the gate must
    // see exactly build + 2 batches
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    // build-time write: assignment by the index's own serving
    // geometry (probeExpr take=2 — identical to what appendToServing
    // uses, so build rows and upsert rows are one population)
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)

    // two upsert batches AFTER the build, each through the serving
    // path (model reloaded from the sidecar both times)
    val b1 = base.filter(col("vec_id") % 25 === 0)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    val b2 = base.filter(col("vec_id") % 50 === 0)
      .withColumn("v", transform(col("v"), x => x * 3))
      .withColumn("version", lit(3))
      .unionByName(base.filter(col("vec_id") % 40 === 7)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("v", transform(col("v"), x => x * 2)))
    IndexMaintenance.appendToServing(s, servePath.toString, b1,
      "vec_id", "v", "version")
    IndexMaintenance.appendToServing(s, servePath.toString, b2,
      "vec_id", "v", "version")

    // serve: open from disk, probe in SQL-rewrite form, LWW via the
    // delta registry, exact rank inside the probed leaves
    graft.plans.IndexCatalog.drop("r_stream_serve")
    graft.plans.IndexCatalog.open(s, "r_stream_serve", servePath.toString)
    IndexMaintenance.readServing(s, servePath.toString, "vec_id", "version")
      .filter(graft.plans.AnnPruning.probe("r_stream_serve",
        col("leaf_id"), query, 3))
      .select(col("vec_id"), col("version"), col("leaf_id"),
        graft.functions.vectors.dotProduct(col("v"),
          typedLit(query)).as("score"))
      .groupBy("vec_id")
      .agg(max(col("version")).cast("bigint").as("version"),
        min(col("leaf_id")).cast("bigint").as("leaf_id"),
        max(col("score")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(15)
  }

  /** The Scala serving API (`IvfIndex.searchDf` with restricts +
    * crowding + metadata join) driver-gated against the SAME oracle
    * as `v_ann_sql_e2e`: one semantics, two surfaces. The API runs
    * over the WRITTEN partitionBy(leaf_id) layout, so its restricts
    * hit the scan as pushed filters and the probe list partition-
    * prunes (plan-asserted in ServingApiSpec) — this gate pins the
    * VALUES to the DuckDB oracle as well.
    */
  private val rServeApi = QueryDef.sqlChecked("r_serve_api")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) WHERE rn <= 2), " +
      "cand AS (SELECT e.vec_id, e.label, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid, q WHERE e.vec_id <> 7 AND e.vec_id >= 10), " +
      "crowded AS (SELECT vec_id, label, score FROM (" +
      "SELECT vec_id, label, score, row_number() OVER (" +
      "PARTITION BY label ORDER BY score DESC, vec_id) AS crn FROM cand) WHERE crn <= 2), " +
      "ranked AS (SELECT vec_id, label, score, row_number() OVER (" +
      "ORDER BY score DESC, vec_id) AS rank FROM crowded) " +
      "SELECT vec_id, label, score, cast(rank as bigint) AS rank " +
      "FROM ranked WHERE rank <= 8 ORDER BY rank"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val idxPath = E2eIdxCache.get(s, d, cents)
    IvfIndex.searchDf(s.read.parquet(idxPath),
      IvfIndex.Model(cents.toArray), query, nProbe = 2, k = 8,
      id = "vec_id", vecCol = "embedding",
      restricts = Seq(col("vec_id") =!= 7, col("vec_id") >= 10),
      crowding = Some(("label", 2)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")))
  }

  /** The serving layout opened through its FILE MANIFEST instead of a
    * directory listing (`ServingManifest` — the Iceberg/Delta trick
    * applied to the index): build writes the manifest, an upsert
    * through `appendToServing` reconciles it, the gate REQUIRES
    * zero drift between manifest and disk, and the search's data
    * frame comes from `ServingManifest.open` — explicit file set, no
    * recursive listing, pruning and LWW unchanged. The oracle
    * recomputes the same serve-then-search from the source table, so
    * a manifest that hid or duplicated a file fails the hash, not
    * just the drift check.
    */
  private val rServeManifest = QueryDef.sqlChecked("r_serve_manifest")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "up AS (SELECT vec_id, list_transform(v, x -> -2*x) AS v, 2 AS version " +
      "FROM base WHERE vec_id % 31 = 3 " +
      "UNION ALL SELECT vec_id + 200000, list_transform(v, x -> 1.5*x), 1 " +
      "FROM base WHERE vec_id % 45 = 11), " +
      "log AS (SELECT * FROM base UNION ALL SELECT * FROM up), " +
      "delta AS (SELECT vec_id, max(version) AS latest FROM up GROUP BY vec_id), " +
      "live AS (SELECT l.vec_id, l.v, l.version FROM log l " +
      "LEFT JOIN delta d ON l.vec_id = d.vec_id " +
      "WHERE d.latest IS NULL OR l.version = d.latest), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, version, v, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, l.version, l.v, c.cid, row_number() OVER (" +
      "PARTITION BY l.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) WHERE rn <= 3), " +
      "cand AS (SELECT a.vec_id, a.version, a.leaf_id, " +
      "list_inner_product(a.v, q.qv) AS score " +
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid, q) " +
      "SELECT vec_id, cast(max(version) as bigint) AS version, " +
      "cast(min(leaf_id) as bigint) AS leaf_id, max(score) AS score " +
      "FROM cand GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 12"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    import graft.operators.ServingManifest
    graft.plans.GraftExtensions.register(s)
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servem_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)

    // one serving upsert AFTER the build: changed vectors + brand-new
    // ids, appended into existing leaves; the manifest reconciles
    val b1 = base.filter(col("vec_id") % 31 === 3)
      .withColumn("v", transform(col("v"), x => x * -2))
      .withColumn("version", lit(2))
      .unionByName(base.filter(col("vec_id") % 45 === 11)
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("v", transform(col("v"), x => x * 1.5)))
    IndexMaintenance.appendToServing(s, servePath.toString, b1,
      "vec_id", "v", "version")

    val drift = ServingManifest.verify(s, servePath.toString)
    require(drift == ((0L, 0L)),
      s"manifest drift after serving append: $drift")

    // data opened THROUGH the manifest — explicit file set, no
    // directory listing; LWW inlined over the manifest-opened frame
    val data = ServingManifest.open(s, servePath.toString).get
    val latest = s.read.parquet(servePath.toString + "/_graft_delta")
      .groupBy(col("vec_id").as("__id"))
      .agg(max(col("version")).as("__latest"))
    val live = data.join(latest, data("vec_id") === col("__id"), "left")
      .filter(col("__latest").isNull ||
        col("version").cast("long") === col("__latest"))
      .drop("__id", "__latest")

    graft.plans.IndexCatalog.drop("r_serve_manifest")
    graft.plans.IndexCatalog.open(s, "r_serve_manifest", servePath.toString)
    live.filter(graft.plans.AnnPruning.probe("r_serve_manifest",
        col("leaf_id"), query, 3))
      .select(col("vec_id"), col("version"), col("leaf_id"),
        graft.functions.vectors.dotProduct(col("v"),
          typedLit(query)).as("score"))
      .groupBy("vec_id")
      .agg(max(col("version")).cast("bigint").as("version"),
        min(col("leaf_id")).cast("bigint").as("leaf_id"),
        max(col("score")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(12)
  }

  /** Time travel over the SERVED index through the manifest snapshot
    * log (`ServingManifest.openAt` — the Delta/Iceberg version-log
    * trick): build = v1, each serving append = +1, and a reader can
    * pin the file-set AS OF any logged version while later upserts
    * land next to it. The gate appends TWICE and searches the layout
    * at the intermediate version — the first append must be visible
    * in full, the second completely invisible; the oracle recomputes
    * exactly that row set from the source table, so a fold that
    * leaked or dropped a file fails the hash. The log itself is
    * O(delta) per append (only changed file entries are logged,
    * checkpointed every [[ServingManifest.CheckpointInterval]]
    * installs), which is what makes versioning affordable at 10⁶
    * files — asserted structurally here via the delta form.
    */
  private val rServeSnapshot = QueryDef.sqlChecked("r_serve_snapshot")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "up1 AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> 1.5*x) AS v FROM base WHERE vec_id % 31 = 3), " +
      "live AS (SELECT * FROM base UNION ALL SELECT * FROM up1), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, l.v, c.cid, row_number() OVER (" +
      "PARTITION BY l.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) WHERE rn <= 3), " +
      "cand AS (SELECT a.vec_id, a.leaf_id, " +
      "list_inner_product(a.v, q.qv) AS score " +
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid, q) " +
      "SELECT vec_id, cast(min(leaf_id) as bigint) AS leaf_id, " +
      "max(score) AS score FROM cand GROUP BY vec_id " +
      "ORDER BY score DESC, vec_id LIMIT 12"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    import graft.operators.ServingManifest
    graft.plans.GraftExtensions.register(s)
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servesnap_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)

    // two serving appends AFTER the build, new ids only: the snapshot
    // at v2 must hold the first in full and none of the second
    val up1 = base.filter(col("vec_id") % 31 === 3)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => x * 1.5))
    IndexMaintenance.appendToServing(s, servePath.toString, up1,
      "vec_id", "v", "version")
    val up2 = base.filter(col("vec_id") % 45 === 11)
      .withColumn("vec_id", col("vec_id") + 400000)
      .withColumn("v", transform(col("v"), x => x * 0.5))
    IndexMaintenance.appendToServing(s, servePath.toString, up2,
      "vec_id", "v", "version")

    val vs = ServingManifest.versions(s, servePath.toString)
    require(vs == Seq(1, 2, 3),
      s"expected snapshot versions 1,2,3 after build + two appends, got $vs")
    // the steady-state log entry is a DELTA (O(changed files)), not a
    // full manifest copy — the property that keeps the log affordable
    val v2log = s.read.parquet(
      ServingManifest.logDir(servePath.toString) + "/v=2")
    require(v2log.columns.contains("action"),
      "append versions must log as deltas")

    val data = ServingManifest.openAt(s, servePath.toString, 2).get
    graft.plans.IndexCatalog.drop("r_serve_snapshot")
    graft.plans.IndexCatalog.open(s, "r_serve_snapshot", servePath.toString)
    data.filter(graft.plans.AnnPruning.probe("r_serve_snapshot",
        col("leaf_id"), query, 3))
      .select(col("vec_id"), col("leaf_id"),
        graft.functions.vectors.dotProduct(col("v"),
          typedLit(query)).as("score"))
      .groupBy("vec_id")
      .agg(min(col("leaf_id")).cast("bigint").as("leaf_id"),
        max(col("score")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(12)
  }

  /** Serving-layout CLONE at a pinned snapshot version
    * ([[graft.streaming.IndexMaintenance.cloneServing]]) — the
    * backup / blue-green half of the deployment lifecycle the
    * reference delegates to its managed service (index + endpoint
    * provisioning, index_manager.py:49-75). The gate builds, appends
    * twice, clones AS OF the intermediate version into a fresh
    * directory, and searches the CLONE through its own (fresh, v=1)
    * manifest: the first append must be visible in full, the second
    * completely invisible, and the copied file-set must match its
    * manifest byte for byte — a clone that leaked a newer file, lost
    * one, or mis-wrote its manifest fails the hash or a require().
    * The data-file copy itself is a distributed job (one task per
    * file), which is what makes the operation a cluster-scale backup
    * rather than a driver loop.
    */
  private val rServeClone = QueryDef.sqlChecked("r_serve_clone")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "up1 AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> 1.5*x) AS v FROM base WHERE vec_id % 31 = 3), " +
      "live AS (SELECT * FROM base UNION ALL SELECT * FROM up1), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, l.v, c.cid, row_number() OVER (" +
      "PARTITION BY l.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) WHERE rn <= 3), " +
      "cand AS (SELECT a.vec_id, a.leaf_id, " +
      "list_inner_product(a.v, q.qv) AS score " +
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid, q) " +
      "SELECT vec_id, cast(min(leaf_id) as bigint) AS leaf_id, " +
      "max(score) AS score FROM cand GROUP BY vec_id " +
      "ORDER BY score DESC, vec_id LIMIT 12"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    import graft.operators.ServingManifest
    graft.plans.GraftExtensions.register(s)
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servecl_" + java.lang.Integer.toHexString(d.hashCode))
    val clonePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servecl2_" + java.lang.Integer.toHexString(d.hashCode))
    Seq(servePath, clonePath).foreach { p =>
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(q => { java.nio.file.Files.delete(q); () })
      }
    }
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)

    val up1 = base.filter(col("vec_id") % 31 === 3)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => x * 1.5))
    IndexMaintenance.appendToServing(s, servePath.toString, up1,
      "vec_id", "v", "version")
    val up2 = base.filter(col("vec_id") % 45 === 11)
      .withColumn("vec_id", col("vec_id") + 400000)
      .withColumn("v", transform(col("v"), x => x * 0.5))
    IndexMaintenance.appendToServing(s, servePath.toString, up2,
      "vec_id", "v", "version")

    val copied = IndexMaintenance.cloneServing(s, servePath.toString,
      clonePath.toString, Some(2))
    require(copied > 0, "clone copied no files")
    require(ServingManifest.versions(s, clonePath.toString) == Seq(1),
      "a clone must start a fresh manifest history at v=1")
    val drift = ServingManifest.verify(s, clonePath.toString)
    require(drift == ((0L, 0L)),
      s"clone manifest drift: $drift")

    val data = ServingManifest.open(s, clonePath.toString).get
    graft.plans.IndexCatalog.drop("r_serve_clone")
    graft.plans.IndexCatalog.open(s, "r_serve_clone", clonePath.toString)
    data.filter(graft.plans.AnnPruning.probe("r_serve_clone",
        col("leaf_id"), query, 3))
      .select(col("vec_id"), col("leaf_id"),
        graft.functions.vectors.dotProduct(col("v"),
          typedLit(query)).as("score"))
      .groupBy("vec_id")
      .agg(min(col("leaf_id")).cast("bigint").as("leaf_id"),
        max(col("score")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(12)
  }

  /** The DELETE half of the serving lifecycle, driver-gated: build →
    * upsert batch → [[graft.streaming.IndexMaintenance.removeFromServing]]
    * tombstones → a LATER upsert RESURRECTING a subset of the deleted
    * ids → search. The tombstones include the query vector's own id
    * (its self-hit is rank 1 in every other serving gate), so the
    * result is maximally sensitive to delete semantics: the id comes
    * back only through the higher-version resurrection batch, with a
    * doubled vector — the oracle replicates the (version, tombstone)
    * LWW fold and the driver hash-compares the ranked rows.
    *
    * A delete writes ONE registry row and touches no data file — the
    * physical removal is [[graft.streaming.IndexMaintenance.compactServing]]'s
    * job (spec'd in ServingApiSpec), which is the right split at
    * scale: deletes land at streaming rates, rewrites happen at
    * maintenance cadence.
    */
  private val rServeDelete = QueryDef.sqlChecked("r_serve_delete")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "up1 AS (SELECT vec_id, list_transform(v, x -> -x) AS v, 2 AS version " +
      "FROM base WHERE vec_id % 25 = 0), " +
      "up2 AS (SELECT vec_id, list_transform(v, x -> 2*x) AS v, 4 AS version " +
      "FROM base WHERE vec_id % 60 = 0), " +
      "log AS (SELECT * FROM base UNION ALL SELECT * FROM up1 " +
      "UNION ALL SELECT * FROM up2), " +
      "delta AS (SELECT vec_id, 2 AS version, false AS tomb FROM base " +
      "WHERE vec_id % 25 = 0 " +
      "UNION ALL SELECT vec_id, 3, true FROM base WHERE vec_id % 20 = 0 " +
      "UNION ALL SELECT vec_id, 4, false FROM base WHERE vec_id % 60 = 0), " +
      "lat AS (SELECT vec_id, max(version) AS lv FROM delta GROUP BY vec_id), " +
      "latt AS (SELECT l.vec_id, l.lv, d.tomb FROM lat l JOIN delta d " +
      "ON d.vec_id = l.vec_id AND d.version = l.lv), " +
      "live AS (SELECT lg.vec_id, lg.v, lg.version FROM log lg " +
      "LEFT JOIN latt t ON lg.vec_id = t.vec_id " +
      "WHERE t.lv IS NULL OR (lg.version = t.lv AND NOT t.tomb)), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 0), " +
      "assign AS (SELECT vec_id, version, v, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, l.version, l.v, c.cid, row_number() OVER (" +
      "PARTITION BY l.vec_id, l.version ORDER BY " +
      "list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 3), " +
      "cand AS (SELECT a.vec_id, a.version, a.leaf_id, " +
      "list_inner_product(a.v, q.qv) AS score " +
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid, q) " +
      "SELECT vec_id, cast(max(version) as bigint) AS version, " +
      "cast(min(leaf_id) as bigint) AS leaf_id, max(score) AS score " +
      "FROM cand GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 15"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 0)
      .select(col("v")).head().getSeq[Double](0)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servedel_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)

    // upsert, DELETE (incl. the query id 0), resurrect a subset with
    // a higher version — the full add/remove/re-add LWW exercise
    val b1 = base.filter(col("vec_id") % 25 === 0)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    IndexMaintenance.appendToServing(s, servePath.toString, b1,
      "vec_id", "v", "version")
    val dels = base.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), lit(3).as("version"))
    IndexMaintenance.removeFromServing(s, servePath.toString, dels,
      "vec_id", "version")
    val b2 = base.filter(col("vec_id") % 60 === 0)
      .withColumn("v", transform(col("v"), x => x * 2))
      .withColumn("version", lit(4))
    IndexMaintenance.appendToServing(s, servePath.toString, b2,
      "vec_id", "v", "version")

    graft.plans.IndexCatalog.drop("r_serve_delete")
    graft.plans.IndexCatalog.open(s, "r_serve_delete", servePath.toString)
    IndexMaintenance.readServing(s, servePath.toString, "vec_id", "version")
      .filter(graft.plans.AnnPruning.probe("r_serve_delete",
        col("leaf_id"), query, 3))
      .select(col("vec_id"), col("version"), col("leaf_id"),
        graft.functions.vectors.dotProduct(col("v"),
          typedLit(query)).as("score"))
      .groupBy("vec_id")
      .agg(max(col("version")).cast("bigint").as("version"),
        min(col("leaf_id")).cast("bigint").as("leaf_id"),
        max(col("score")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(15)
  }

  /** SELECTIVITY-ADAPTIVE filtered search, driver-gated: a serving
    * layout whose manifest carries promoted `version` stats takes an
    * upsert batch (new ids, version 2), then answers a
    * `version >= 2` restricted query through
    * [[graft.operators.Serving.searchAdaptive]]. The restrict is
    * provably selective (file stats skip every build-time file), so
    * the adaptive plan is the EXACT pre-filter scan — full recall
    * over the qualifying rows, where the probed plan can return
    * fewer than the true filtered top-k (the appended vectors are
    * negated, i.e. they live in leaves a probe for the query would
    * not rank first — the classic filtered-ANN recall failure this
    * plan exists to avoid). The gate REQUIREs both plan decisions
    * (selective → exact, unselective → probed) and hash-checks the
    * exact filtered top-k against the oracle.
    */
  private val rServePrefilter = QueryDef.sqlChecked("r_serve_prefilter")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "b1 AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> -x) AS v, 2 AS version FROM base " +
      "WHERE vec_id % 30 = 7), " +
      "live AS (SELECT * FROM base UNION ALL SELECT * FROM b1), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 0), " +
      "flt AS (SELECT vec_id, list_inner_product(v, q.qv) AS score " +
      "FROM live, q WHERE version >= 2), " +
      "ranked AS (SELECT vec_id, score, row_number() OVER (" +
      "ORDER BY score DESC, vec_id) AS rank FROM flt) " +
      "SELECT vec_id, score, cast(rank as bigint) AS rank FROM ranked " +
      "WHERE rank <= 10 ORDER BY rank"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 0)
      .select(col("v")).head().getSeq[Double](0)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servepre_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)
    graft.operators.ServingManifest.promote(s, servePath.toString,
      Seq("version"))
    val b1 = base.filter(col("vec_id") % 30 === 7)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2))
    IndexMaintenance.appendToServing(s, servePath.toString, b1,
      "vec_id", "v", "version")

    val serving = graft.operators.Serving.open(s, servePath.toString,
      id = "vec_id", vecCol = "v")
    val sel = Seq(col("version") >= 2)
    require(serving.searchAdaptivePlan(sel, 0.35),
      "r_serve_prefilter: the selective restrict must pick the exact plan")
    require(!serving.searchAdaptivePlan(Seq(col("version") >= 1), 0.35),
      "r_serve_prefilter: an unselective restrict must pick the probed plan")
    serving.searchAdaptive(query.toArray, nProbe = 2, k = 10,
      restricts = sel, maxExactFraction = 0.35)
  }

  /** CERTIFIED exact top-k over the served layout, driver-gated: the
    * oracle is the plain BRUTE-FORCE exact top-10 — that equality is
    * the entire point ([[graft.operators.CertifiedSearch]]'s ball
    * bound proves the unprobed leaves empty of better rows, so the
    * pruned search must return exactly what a full scan returns,
    * regardless of how the probe loop unfolded). The gate REQUIREs
    * the certificate engaged (radii sidecar present, probe count
    * recorded) and hash-checks the rows.
    */
  private val vAnnCertified = QueryDef.sqlChecked("v_ann_certified")(
    "SELECT vec_id, list_inner_product(cast(embedding as double[]), " +
      "(SELECT cast(embedding as double[]) FROM embeddings WHERE vec_id = 0)" +
      ") AS score FROM embeddings ORDER BY score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 0)
      .select(col("v")).head().getSeq[Double](0).toArray

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servecert_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)
    graft.operators.CertifiedSearch.buildRadii(s, servePath.toString,
      vecCol = "v")

    val serving = graft.operators.Serving.open(s, servePath.toString,
      id = "vec_id", vecCol = "v")
    val (res, probed) = serving.searchCertified(query, k = 10,
      initialProbe = 2)
    require(probed >= 1 && probed <= model.centroids.length,
      s"v_ann_certified: certificate probe count out of range: $probed")
    res.select(col("vec_id"), col("score"))
  }

  /** Serving-side MaxSim (the IVF-pruned sibling of `v_maxsim`),
    * driver-gated: a layout carrying a document attribute (`label`)
    * answers a 3-vector late-interaction query through
    * [[graft.operators.Serving.searchMaxSim]] — union-of-probes
    * pruned scan, per-(doc, qvec) MAX, exact-decimal per-doc sum.
    * The oracle replicates the probe ranking (the same
    * |c|²−2⟨q,c⟩ + cid tie-break every probe gate uses), the union,
    * and the scoring, so the approximation itself is pinned, not
    * just its happy path.
    */
  private val vMaxsimPruned = QueryDef.sqlChecked("v_maxsim_pruned")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,1,2)), " +
      "assign AS (SELECT vec_id, label, v, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, b.label, b.v, c.cid, row_number() OVER (" +
      "PARTITION BY b.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT DISTINCT cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT DISTINCT a.vec_id, a.label, a.v FROM assign a " +
      "JOIN probe p ON a.leaf_id = p.cid), " +
      "per AS (SELECT c.label, q.qid, " +
      "max(list_inner_product(c.v, q.qv)) AS best " +
      "FROM cand c, q GROUP BY c.label, q.qid) " +
      "SELECT label, " + graft.Exact.sqlDsum("best", 12) + " AS score " +
      "FROM per GROUP BY label ORDER BY score DESC, label LIMIT 5"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val qvecs = base.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq

    val servePath = MaxsimLayoutCache.get(s, d)
    graft.operators.Serving.open(s, servePath,
      id = "vec_id", vecCol = "v")
      .searchMaxSim(qvecs, nProbe = 2, k = 5, docCol = "label")
  }

  /** FILTERED multi-vector late interaction — `v_maxsim_pruned` with
    * per-datapoint restricts, the contract every single-vector
    * serving surface already carries (the reference applies
    * restricts on EVERY find-neighbors call regardless of query
    * type): the restrict sits on the pruned scan before any scoring,
    * so excluded rows can never contribute a per-(doc, qvec) MAX.
    * The oracle replicates probe, restrict, and both aggregation
    * stages; the restricted label is one the unfiltered gate RANKS
    * (it changes the output, not just the work). FULL hash oracle.
    */
  private val vMaxsimFiltered = QueryDef.sqlChecked("v_maxsim_filtered")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,1,2)), " +
      "assign AS (SELECT vec_id, label, v, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, b.label, b.v, c.cid, row_number() OVER (" +
      "PARTITION BY b.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT DISTINCT cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT DISTINCT a.vec_id, a.label, a.v FROM assign a " +
      "JOIN probe p ON a.leaf_id = p.cid WHERE a.label % 2 = 0), " +
      "per AS (SELECT c.label, q.qid, " +
      "max(list_inner_product(c.v, q.qv)) AS best " +
      "FROM cand c, q GROUP BY c.label, q.qid) " +
      "SELECT label, " + graft.Exact.sqlDsum("best", 12) + " AS score " +
      "FROM per GROUP BY label ORDER BY score DESC, label LIMIT 5"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val qvecs = base.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    // reuse the shared MaxSim layout (same build as v_maxsim_pruned)
    val servePath = MaxsimLayoutCache.get(s, d)
    graft.operators.Serving.open(s, servePath,
      id = "vec_id", vecCol = "v")
      .searchMaxSim(qvecs, nProbe = 2, k = 5, docCol = "label",
        restricts = Seq(col("label") % 2 === 0))
  }

  /** BATCHED multi-vector late interaction
    * ([[graft.operators.Serving.searchMaxSimBatch]]) — THREE MaxSim
    * queries with different token-vector counts (2 / 3 / 1) served
    * in ONE plan: each qid routes its own token vectors, scans the
    * union of ITS probed leaves (per-qid identical semantics to
    * `v_maxsim_pruned`), collapses the per-(qid, doc, qvec) MAX
    * map-side, sums exact-decimal per (qid, doc), and ranks top-4
    * per qid in one window. The oracle replays per-(qid, qvec)
    * probing, the per-qid candidate unions, and both aggregation
    * stages. FULL hash oracle.
    */
  private val vMaxsimBatch = QueryDef.sqlChecked("v_maxsim_batch")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "qv AS (SELECT cast(CASE WHEN vec_id IN (0,1) THEN 0 " +
      "WHEN vec_id IN (2,3,4) THEN 1 ELSE 2 END as bigint) AS qid, " +
      "vec_id AS qidx, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,1,2,3,4,5)), " +
      "assign AS (SELECT vec_id, label, v, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, b.label, b.v, c.cid, row_number() OVER (" +
      "PARTITION BY b.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT DISTINCT qid, cid FROM (SELECT q.qid, q.qidx, " +
      "c.cid, row_number() OVER (PARTITION BY q.qid, q.qidx " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, qv q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT DISTINCT p.qid, a.vec_id, a.label, a.v " +
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid), " +
      "per AS (SELECT c.qid, c.label, q.qidx, " +
      "max(list_inner_product(c.v, q.qv)) AS best " +
      "FROM cand c JOIN qv q ON c.qid = q.qid " +
      "GROUP BY c.qid, c.label, q.qidx), " +
      "doc AS (SELECT qid, label, " + graft.Exact.sqlDsum("best", 12) +
      " AS score FROM per GROUP BY qid, label) " +
      "SELECT qid, label, score, rn FROM (SELECT qid, label, score, " +
      "row_number() OVER (PARTITION BY qid ORDER BY score DESC, label) " +
      "AS rn FROM doc) WHERE rn <= 4 ORDER BY qid, rn"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val byId = base.filter(col("vec_id") <= 5L)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

    val servePath = MaxsimLayoutCache.get(s, d)

    import s.implicits._
    val queries = Seq(
      (0L, Seq(byId(0L), byId(1L))),
      (1L, Seq(byId(2L), byId(3L), byId(4L))),
      (2L, Seq(byId(5L))))
      .toDF("qid", "qvecs")
    graft.operators.Serving.open(s, servePath,
        id = "vec_id", vecCol = "v")
      .searchMaxSimBatch(queries, "qid", "qvecs", nProbe = 2, k = 4,
        docCol = "label")
  }

  /** PER-QUERY allow-maps on batched multi-vector late interaction
    * ([[graft.operators.Serving.searchMaxSimBatchPerQuery]]) — the
    * per-query restrict contract the single-vector batch carries
    * (`r_serve_restricts`), on the MaxSim operator: three qids with
    * DIFFERENT allow-maps over the layout's `label` in one plan —
    * qid 0 admits even labels, qid 1 admits {1, 3}, qid 2 carries a
    * NULL map (unrestricted). The map is per qid, shared by all its
    * token vectors, evaluated per (candidate, qid) pair inside the
    * candidate join; the oracle replicates per-(qid, token) probing,
    * the per-qid admission rule, and both aggregation stages. FULL
    * hash oracle.
    */
  private val vMaxsimPerQuery = QueryDef.sqlChecked("v_maxsim_perquery")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "qv AS (SELECT cast(CASE WHEN vec_id IN (0,1) THEN 0 " +
      "WHEN vec_id IN (2,3,4) THEN 1 ELSE 2 END as bigint) AS qid, " +
      "vec_id AS qidx, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,1,2,3,4,5)), " +
      "assign AS (SELECT vec_id, label, v, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, b.label, b.v, c.cid, row_number() OVER (" +
      "PARTITION BY b.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT DISTINCT qid, cid FROM (SELECT q.qid, q.qidx, " +
      "c.cid, row_number() OVER (PARTITION BY q.qid, q.qidx " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, qv q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT DISTINCT p.qid, a.vec_id, a.label, a.v " +
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid " +
      "WHERE (p.qid = 0 AND a.label % 2 = 0 AND a.vec_id <= 300) " +
      "OR (p.qid = 1 AND a.label IN (1, 3)) OR p.qid = 2), " +
      "per AS (SELECT c.qid, c.label, q.qidx, " +
      "max(list_inner_product(c.v, q.qv)) AS best " +
      "FROM cand c JOIN qv q ON c.qid = q.qid " +
      "GROUP BY c.qid, c.label, q.qidx), " +
      "doc AS (SELECT qid, label, " + graft.Exact.sqlDsum("best", 12) +
      " AS score FROM per GROUP BY qid, label) " +
      "SELECT qid, label, score, rn FROM (SELECT qid, label, score, " +
      "row_number() OVER (PARTITION BY qid ORDER BY score DESC, label) " +
      "AS rn FROM doc) WHERE rn <= (CASE qid WHEN 0 THEN 2 " +
      "WHEN 1 THEN 4 ELSE 3 END) ORDER BY qid, rn"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val byId = base.filter(col("vec_id") <= 5L)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val servePath = MaxsimLayoutCache.get(s, d)
    import s.implicits._
    // per-qid k exercises the least(global, per-query) clamp: qid 0
    // asks 2 (under the global 4), qid 1 asks 9 (clamped to 4 —
    // though its {1,3} allow admits only 2 docs anyway), qid 2 asks 3
    val queries = Seq(
      (0L, Seq(byId(0L), byId(1L)),
        Option(Map("label" -> Seq("0", "2", "4", "6", "8"))), 2,
        Seq(("vec_id", "LE", 300.0))),
      (1L, Seq(byId(2L), byId(3L), byId(4L)),
        Option(Map("label" -> Seq("1", "3"))), 9,
        Seq.empty[(String, String, Double)]),
      (2L, Seq(byId(5L)), Option.empty[Map[String, Seq[String]]], 3,
        Seq.empty[(String, String, Double)]))
      .toDF("qid", "qvecs", "allow", "k", "num")
      .withColumn("num", expr("transform(num, r -> " +
        "named_struct('attr', r._1, 'op', r._2, 'v', r._3))"))
    graft.operators.Serving.open(s, servePath.toString,
        id = "vec_id", vecCol = "v")
      .searchMaxSimBatchPerQuery(queries, "qid", "qvecs",
        allowCol = "allow", attrs = Seq("label"), nProbe = 2, k = 4,
        docCol = "label", kCol = Some("k"),
        numCol = Some("num"), numAttrs = Seq("vec_id"))
  }

  /** Serving-layout cache for the BATCH gate: the full reopenable
    * index (data + model sidecar + manifest) built once per JVM per
    * sf dir — `r_serve_batch` gates the batched QUERY path; the
    * build/append lifecycles have their own gates (`r_serve_manifest`,
    * `r_serve_snapshot`), so rebuilding per invocation would re-time
    * what is already covered.
    */
  /** Per-JVM fixture cache for QUERY-surface gates whose serving
    * layout is a DETERMINISTIC build-promote-append sequence (the
    * [[graft.queries.ChunkingQueries.ServeHybridAdaptiveCache]]
    * shape, generalized): the closure builds the layout once per
    * (kind, sf dir); repeated invocations reuse it. Only for gates
    * that measure a SEARCH surface — lifecycle gates (snapshot /
    * cdc / clone / delete / rebalance / maintain / live) keep their
    * per-invocation rebuilds, because the lifecycle IS the operator
    * under test there.
    */
  private[queries] object AdaptiveLayoutCache {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def get(s: org.apache.spark.sql.SparkSession, d: String,
        kind: String)(build: String => Unit): String =
      cache.getOrElseUpdate(kind + ":" + d, {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
          java.lang.Integer.toHexString(d.hashCode)
        val p = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.exists(p)) {
          java.nio.file.Files.walk(p).sorted(
            java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(x => { java.nio.file.Files.delete(x); () })
        }
        build(path)
        path
      })
  }

  /** Shared serving layout for the MaxSim QUERY gates (pruned /
    * filtered / batch / per-query): all four build the IDENTICAL
    * base + spill-2 indexed layout over the same fixed 8-centroid
    * model, so it is built once per JVM per sf dir — these gates
    * gate the multi-vector QUERY surfaces; the build lifecycle has
    * its own gates (`v_ann_build*`, `r_serve_manifest`), so
    * rebuilding the same layout per gate and per invocation re-timed
    * covered work (the [[ServeBatchCache]] rationale).
    */
  private[queries] object MaxsimLayoutCache {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def get(s: org.apache.spark.sql.SparkSession, d: String): String =
      cache.getOrElseUpdate(d, {
        val emb = Tables.embeddings(s, d)
        val base = emb.select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
        val cents = base.filter(col("vec_id").isin(centIds: _*))
          .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
          .map(_.getSeq[Double](1).toArray)
        val model = IvfIndex.Model(cents)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_maxsimshared_" +
          java.lang.Integer.toHexString(d.hashCode)
        val p = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.exists(p)) {
          java.nio.file.Files.walk(p).sorted(
            java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(x => { java.nio.file.Files.delete(x); () })
        }
        val indexed = base.withColumn("leaf_id",
          explode(IvfIndex.probeExpr(model, col("v"), 2)))
        IvfIndex.write(indexed, path, model)
        path
      })
  }

  private[queries] object ServeBatchCache {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def get(s: org.apache.spark.sql.SparkSession, d: String,
        cents: Seq[Array[Double]]): String =
      cache.getOrElseUpdate(d, {
        val emb = Tables.embeddings(s, d)
        val model = IvfIndex.Model(cents.toArray)
        val indexed = emb.withColumn("leaf_id",
          explode(IvfIndex.probeExpr(model,
            col("embedding").cast("array<double>"), 1)))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_servebatch_" +
          java.lang.Integer.toHexString(d.hashCode)
        IvfIndex.write(indexed, path, model)
        path
      })
  }

  /** The FULL batched serving shape, driver-gated: a resident
    * [[graft.operators.Serving]] session over a written layout runs
    * `searchBatch` for THREE queries at once with restricts + a
    * crowding cap + the metadata join — the reference's batched
    * find_neighbors over per-datapoint restricts/crowding
    * (setup_vector_search.py:45-76). One distributed plan: f32-exact
    * routing (8 leaves — below the router threshold both routing
    * paths are exact, see the Serving scaladoc), In-list pre-pruned
    * candidate join, per-(query, label) crowding, per-query top-k,
    * metadata re-attach. The oracle replicates route → restrict →
    * crowd → rank → join per query and the driver hash-compares every
    * row — the batched path has the SAME semantics as the single-query
    * `r_serve_api`, not merely the same row counts.
    */
  private val rServeBatch = QueryDef.sqlChecked("r_serve_batch")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (7,21,33)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT p.qid, e.vec_id, e.label, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN q ON q.qid = p.qid " +
      "WHERE e.vec_id >= 10), " +
      "crowded AS (SELECT qid, vec_id, label, score FROM (" +
      "SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid, label ORDER BY score DESC, vec_id) AS crn " +
      "FROM cand) WHERE crn <= 2), " +
      "ranked AS (SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM crowded) " +
      "SELECT qid, vec_id, label, score, cast(rn as bigint) AS rn " +
      "FROM ranked WHERE rn <= 5 ORDER BY qid, rn"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val path = ServeBatchCache.get(s, d, cents)
    val serving = graft.operators.Serving.open(s, path)
    val queries = emb.filter(col("vec_id").isin(7L, 21L, 33L))
      .select(col("vec_id").as("qid"), col("embedding"))
    serving.searchBatch(queries, "qid", "embedding", nProbe = 2, k = 5,
      restricts = Seq(col("vec_id") >= 10),
      crowding = Some(("label", 2)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")))
  }

  /** PER-QUERY leaf-percent override in one batch
    * ([[graft.operators.Serving.searchBatchPercent]]) — the
    * reference deploys with `leaf_nodes_to_search_percent`
    * (config.py:37) and production find-neighbors lets each request
    * override the searched fraction, so one batch carries three
    * tenants at DIFFERENT recall points: qid 7 at 10% (⌈0.8⌉ = 1
    * leaf), qid 21 at 25% (2 leaves), qid 33 at 50% (wants 4,
    * CLAMPED to the global maxProbe = 3 — the least(global,
    * per-query) contract the other per-query knobs follow). Routing
    * is evaluated ONCE at the global bound and each query slices its
    * own rank-ordered prefix. The oracle replays the per-qid probe
    * depths and the probed top-k per query; the driver
    * hash-compares every row.
    */
  private val rServePct = QueryDef.sqlChecked("r_serve_pct")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv, " +
      "CASE vec_id WHEN 7 THEN 10.0 WHEN 21 THEN 25.0 ELSE 50.0 END AS pct " +
      "FROM embeddings WHERE vec_id IN (7,21,33)), " +
      "np AS (SELECT qid, qv, least(greatest(" +
      "cast(ceil(8 * pct / 100.0) as int), 1), 3) AS n FROM q), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT np.qid, np.n, c.cid, " +
      "row_number() OVER (PARTITION BY np.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(np.qv, c.cv), c.cid) AS rn FROM cent c, np) " +
      "WHERE rn <= n), " +
      "cand AS (SELECT p.qid, e.vec_id, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN q ON q.qid = p.qid), " +
      "ranked AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM cand) " +
      "SELECT qid, vec_id, score, cast(rn as bigint) AS rn " +
      "FROM ranked WHERE rn <= 5 ORDER BY qid, rn"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val path = ServeBatchCache.get(s, d, cents)
    val serving = graft.operators.Serving.open(s, path)
    val queries = emb.filter(col("vec_id").isin(7L, 21L, 33L))
      .select(col("vec_id").as("qid"), col("embedding"),
        when(col("vec_id") === 7L, 10.0)
          .when(col("vec_id") === 21L, 25.0)
          .otherwise(50.0).as("pct"))
    serving.searchBatchPercent(queries, "qid", "embedding", "pct",
      maxProbe = 3, k = 5)
  }

  /** PER-QUERY restricts in one batch
    * ([[graft.operators.Serving.searchBatchPerQuery]]) — the
    * reference's find_neighbors takes a filter set PER QUERY against
    * per-datapoint restrict tokens (setup_vector_search.py:45-62);
    * a multi-tenant batch carries each tenant's allow-list on its own
    * query row. Four queries ride ONE routed batch plan with four
    * DIFFERENT allow-maps over the layout's `label` attribute:
    * qid 7 allows labels {3, 7}; qid 21 allows {1}; qid 33 carries an
    * EMPTY map (no constrained attribute → unrestricted); qid 45
    * carries a NULL map (unrestricted by convention). The allow
    * predicate evaluates per (candidate, query) pair inside the
    * candidate join — no per-query loop, no extra shuffle — while the
    * batch-wide restrict (vec_id ≥ 10) still pushes to the scan.
    * Crowding (2 per label per query) and the metadata join apply
    * AFTER the per-query filter, exactly as in `r_serve_batch`. The
    * oracle replicates route → per-query allow → crowd → rank → join
    * per query; the driver hash-compares every row.
    */
  private val rServeRestricts = QueryDef.sqlChecked("r_serve_restricts")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (7,21,33,45)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT p.qid, e.vec_id, e.label, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN q ON q.qid = p.qid " +
      "WHERE e.vec_id >= 10 AND (" +
      "(p.qid = 7 AND cast(e.label as varchar) IN ('3','7')) OR " +
      "(p.qid = 21 AND cast(e.label as varchar) IN ('1')) OR " +
      "p.qid IN (33, 45))), " +
      "crowded AS (SELECT qid, vec_id, label, score FROM (" +
      "SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid, label ORDER BY score DESC, vec_id) AS crn " +
      "FROM cand) WHERE crn <= 2), " +
      "ranked AS (SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM crowded) " +
      "SELECT qid, vec_id, label, score, cast(rn as bigint) AS rn " +
      "FROM ranked WHERE rn <= 5 ORDER BY qid, rn"
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val path = ServeBatchCache.get(s, d, cents)
    val serving = graft.operators.Serving.open(s, path)
    val allows = Seq(
      (7L, Some(Map("label" -> Seq("3", "7")))),
      (21L, Some(Map("label" -> Seq("1")))),
      (33L, Some(Map.empty[String, Seq[String]])),
      (45L, None: Option[Map[String, Seq[String]]]),
    ).toDF("qid", "allow")
    val queries = emb.filter(col("vec_id").isin(7L, 21L, 33L, 45L))
      .select(col("vec_id").as("qid"), col("embedding"))
      .join(allows, "qid")
    serving.searchBatchPerQuery(queries, "qid", "embedding",
      allowCol = "allow", attrs = Seq("label"), nProbe = 2, k = 5,
      restricts = Seq(col("vec_id") >= 10),
      crowding = Some(("label", 2)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")))
  }

  /** MULTI-ATTRIBUTE allow-maps in one batch — the conjunction
    * semantics of the per-query restrict contract oracle-gated: a
    * candidate qualifies for a query iff EVERY attribute its map
    * constrains lists the row's value (the reference's restricts are
    * per-namespace filters ANDed across namespaces,
    * setup_vector_search.py:45-62). Three tenants: qid 7 constrains
    * BOTH label {9,0} AND an explicit vec_id allow-list — only rows
    * satisfying both survive; qid 21 constrains vec_id only; qid 33
    * is unrestricted (NULL map). Same routed batch plan as
    * `r_serve_restricts`; the oracle replicates the two-attribute
    * conjunction per query, and the driver hash-compares every row.
    */
  private val rServeAllow2 = QueryDef.sqlChecked("r_serve_allow2")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (7,21,33)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT p.qid, e.vec_id, e.label, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN q ON q.qid = p.qid " +
      "WHERE e.vec_id >= 10 AND (" +
      "(p.qid = 7 AND cast(e.label as varchar) IN ('9','0') AND " +
      "cast(e.vec_id as varchar) IN ('209','334','442','423','61','153','48')) OR " +
      "(p.qid = 21 AND cast(e.vec_id as varchar) IN ('94','327','225','128','382','117')) OR " +
      "p.qid = 33)), " +
      "crowded AS (SELECT qid, vec_id, label, score FROM (" +
      "SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid, label ORDER BY score DESC, vec_id) AS crn " +
      "FROM cand) WHERE crn <= 2), " +
      "ranked AS (SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM crowded) " +
      "SELECT qid, vec_id, label, score, cast(rn as bigint) AS rn " +
      "FROM ranked WHERE rn <= 5 ORDER BY qid, rn"
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val path = ServeBatchCache.get(s, d, cents)
    val serving = graft.operators.Serving.open(s, path)
    // qid 7's vec_id list includes id 48 (label 2) — present in the
    // id allow-list but excluded by the label conjunct, so the
    // result visibly proves the AND semantics
    val allows = Seq(
      (7L, Some(Map(
        "label" -> Seq("9", "0"),
        "vec_id" -> Seq("209", "334", "442", "423", "61", "153", "48")))),
      (21L, Some(Map(
        "vec_id" -> Seq("94", "327", "225", "128", "382", "117")))),
      (33L, None: Option[Map[String, Seq[String]]]),
    ).toDF("qid", "allow")
    val queries = emb.filter(col("vec_id").isin(7L, 21L, 33L))
      .select(col("vec_id").as("qid"), col("embedding"))
      .join(allows, "qid")
    serving.searchBatchPerQuery(queries, "qid", "embedding",
      allowCol = "allow", attrs = Seq("label", "vec_id"), nProbe = 2,
      k = 5, restricts = Seq(col("vec_id") >= 10),
      crowding = Some(("label", 2)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")))
  }

  /** PER-QUERY k AND crowding cap in one batch — the other two
    * per-request knobs of the reference's find_neighbors
    * (`num_neighbors` and `per_crowding_attribute_neighbor_count`,
    * rag/search.py + setup_vector_search.py:65-76): one tenant wants
    * 2 hits with hard diversity (cap 1), another 3 with cap 2, a
    * third the full 5 with cap 3 — ONE routed plan. The per-query
    * limits ride the query frame as INT columns, first-agg'd through
    * the spill collapse, and apply as least(global, per-query) in the
    * crowding and ranking windows — a hostile row can never widen
    * the window beyond what the plan sized for. Allow-maps from
    * `r_serve_restricts` compose in the same batch. Oracle replicates
    * route → allow → per-query crowd → per-query rank → metadata
    * join; driver hash-compares every row.
    */
  private val rServePerQuery = QueryDef.sqlChecked("r_serve_perquery")(
    "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (7,21,33)), " +
      "lim AS (SELECT * FROM (VALUES (7, 2, 1), (21, 3, 2), (33, 5, 3)) " +
      "AS t(qid, kq, capq)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT p.qid, e.vec_id, e.label, " +
      "list_inner_product(cast(e.embedding as double[]), q.qv) AS score " +
      "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN q ON q.qid = p.qid " +
      "WHERE e.vec_id >= 10 AND (" +
      "(p.qid = 7 AND cast(e.label as varchar) IN ('3','7')) OR " +
      "p.qid IN (21, 33))), " +
      "crowded AS (SELECT c.qid, c.vec_id, c.label, c.score FROM (" +
      "SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid, label ORDER BY score DESC, vec_id) AS crn " +
      "FROM cand) c JOIN lim ON lim.qid = c.qid WHERE c.crn <= lim.capq), " +
      "ranked AS (SELECT c.qid, c.vec_id, c.label, c.score, c.rn FROM (" +
      "SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM crowded) c " +
      "JOIN lim ON lim.qid = c.qid WHERE c.rn <= lim.kq) " +
      "SELECT qid, vec_id, label, score, cast(rn as bigint) AS rn " +
      "FROM ranked ORDER BY qid, rn"
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val path = ServeBatchCache.get(s, d, cents)
    val serving = graft.operators.Serving.open(s, path)
    val lims = Seq(
      (7L, Some(Map("label" -> Seq("3", "7"))), 2, 1),
      (21L, None: Option[Map[String, Seq[String]]], 3, 2),
      (33L, None: Option[Map[String, Seq[String]]], 5, 3),
    ).toDF("qid", "allow", "kq", "capq")
    val queries = emb.filter(col("vec_id").isin(7L, 21L, 33L))
      .select(col("vec_id").as("qid"), col("embedding"))
      .join(lims, "qid")
    serving.searchBatchPerQuery(queries, "qid", "embedding",
      allowCol = "allow", attrs = Seq("label"), nProbe = 2, k = 5,
      restricts = Seq(col("vec_id") >= 10),
      crowding = Some(("label", 3)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")),
      kCol = Some("kq"), capCol = Some("capq"))
  }

  /** Change feed over the snapshot log
    * ([[graft.operators.ServingManifest.changesBetween]]) — the
    * incremental-consumer surface of the versioned serving layout:
    * build (v1) → append (v2) → append (v3), then read the id-level
    * diffs for (1→2), (2→3), and (1→3). Each append must surface as
    * EXACTLY its batch (as inserts) and the composed interval as the
    * union. Same-version emptiness, the delete direction (reversed
    * interval), spill dedup, and the loud unknown-version failure are
    * spec'd in ServingManifestSpec — this gate pins the feed's
    * contents to the DuckDB-recomputed batch memberships row for row.
    */
  private val rServeCdc = QueryDef.sqlChecked("r_serve_cdc")(
    "WITH up1 AS (SELECT vec_id + 200000 AS vec_id FROM embeddings " +
      "WHERE vec_id % 31 = 3), " +
      "up2 AS (SELECT vec_id + 400000 AS vec_id FROM embeddings " +
      "WHERE vec_id % 45 = 11) " +
      "SELECT * FROM (" +
      "SELECT 1 AS v_from, 2 AS v_to, 'insert' AS change, vec_id FROM up1 " +
      "UNION ALL SELECT 2, 3, 'insert', vec_id FROM up2 " +
      "UNION ALL SELECT 1, 3, 'insert', vec_id FROM up1 " +
      "UNION ALL SELECT 1, 3, 'insert', vec_id FROM up2) " +
      "ORDER BY v_from, v_to, vec_id"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    import graft.operators.ServingManifest
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servecdc_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)
    val up1 = base.filter(col("vec_id") % 31 === 3)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => x * 1.5))
    IndexMaintenance.appendToServing(s, servePath.toString, up1,
      "vec_id", "v", "version")
    val up2 = base.filter(col("vec_id") % 45 === 11)
      .withColumn("vec_id", col("vec_id") + 400000)
      .withColumn("v", transform(col("v"), x => x * 0.5))
    IndexMaintenance.appendToServing(s, servePath.toString, up2,
      "vec_id", "v", "version")

    // same-version emptiness, directionality, and spill dedup are
    // spec'd (ServingManifestSpec) — the gate pays for the three
    // forward intervals only, through the multi-interval form (each
    // snapshot's id set scans once, not once per interval side)
    ServingManifest.changesBetween(s, servePath.toString, "vec_id",
        Seq((1, 2), (2, 3), (1, 3)))
      .orderBy("v_from", "v_to", "vec_id")
  }

  /** RECALL CURVE — the tuning table every ANN deployment reads
    * before picking nProbe: recall@10 of the probed search vs brute
    * force at nProbe ∈ {1, 2, 4} over a fixed-centroid layout, fully
    * hash-gated (fixed centroids make the probed and exact sets both
    * deterministic, so the curve itself is exact — the audit the
    * recall-flag gates like `v_ann_ivf` summarize into a boolean,
    * here as the full table an operator actually tunes against).
    * Shape at scale: one brute-force pass (the audit's cost, run on
    * a sample in production) + one pruned top-10 per curve point;
    * the intersection joins are 10-row broadcasts.
    */
  private val vAnnRecallCurve = QueryDef.sqlChecked("v_ann_recall_curve")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 7), " +
      "scored AS (SELECT b.vec_id, list_inner_product(b.v, q.qv) AS s " +
      "FROM base b, q), " +
      "exact AS (SELECT vec_id FROM scored ORDER BY s DESC, vec_id LIMIT 10), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn FROM base b, cent c) " +
      "WHERE rn = 1), " +
      "pr AS (SELECT cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS pr FROM cent c, q) " +
      Seq(1, 2, 4).map { np =>
        s"SELECT $np AS n_probe, cast(count(e.vec_id) as bigint) AS n_hits, " +
          "cast(count(e.vec_id) as double) / 10.0 AS recall FROM " +
          "(SELECT sc.vec_id FROM scored sc JOIN assign a " +
          s"ON a.vec_id = sc.vec_id JOIN pr ON a.leaf_id = pr.cid AND pr.pr <= $np " +
          "ORDER BY sc.s DESC, sc.vec_id LIMIT 10) p " +
          "LEFT JOIN exact e ON e.vec_id = p.vec_id"
      }.mkString(" UNION ALL ") +
      " ORDER BY n_probe"
  ) { (s, d) =>
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray
    val scored = base.select(col("vec_id"),
      IvfIndex.leafExprMinL2(col("v"), cents.toSeq).cast("int").as("leaf_id"),
      graft.functions.vectors.dotProduct(col("v"),
        typedLit(query.toSeq)).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val exact = scored.orderBy(col("s").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), lit(1).as("__e"))
      Seq(1, 2, 4).map { np =>
        val leaves = model.topLeaves(query, np)
        scored.filter(col("leaf_id").isin(leaves: _*))
          .orderBy(col("s").desc, col("vec_id")).limit(10)
          .join(broadcast(exact), Seq("vec_id"), "left")
          .agg(count(col("__e")).as("n_hits"))
          .select(lit(np).as("n_probe"), col("n_hits"),
            (col("n_hits").cast("double") / 10.0).as("recall"))
      }.reduce(_ unionAll _)
        .orderBy("n_probe")
        .localCheckpoint()
    } finally { scored.unpersist(); () }
  }

  /** STREAMING END-TO-END SERVE, driver-gated — the composed
    * lifecycle the pieces prove separately (StreamingSpec routes
    * micro-batches, IndexMaintenanceSpec routes tombstones,
    * ServingApiSpec races snapshot reads) in ONE oracle-checked
    * query: a Structured Stream of MIXED re-embeds, new upserts,
    * deletes, and a resurrect flows through `foreachBatch` →
    * append/remove into a SERVED layout, while a reader PINNED to the
    * build snapshot (v1, opened BEFORE the stream starts) races it.
    * After the stream drains, one plan returns both reads: the LIVE
    * top-15 (LWW over every event — re-embedded vectors moved, new
    * ids present, deleted ids gone, the resurrected id at its newest
    * version) and the PINNED top-15 (exactly the build-time rows —
    * the appends landed NEXT TO the pinned file-set, never in it).
    * The oracle replays the full event algebra (max-version LWW with
    * tombstones) plus both probed searches; the driver hash-checks
    * every row of both reads.
    */
  private val rServeLive = QueryDef.sqlChecked("r_serve_live")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "up1 AS (SELECT vec_id, list_transform(v, x -> -x) AS v, 2 AS version " +
      "FROM base WHERE vec_id % 25 = 0), " +
      "up2 AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> 2*x) AS v, 2 AS version FROM base " +
      "WHERE vec_id % 40 = 7), " +
      "res AS (SELECT vec_id, list_transform(v, x -> 3*x) AS v, 4 AS version " +
      "FROM base WHERE vec_id = 50), " +
      "del AS (SELECT vec_id, 3 AS version FROM base WHERE vec_id % 50 = 0), " +
      "events AS (SELECT vec_id, version, v, false AS ts FROM base " +
      "UNION ALL SELECT vec_id, version, v, false FROM up1 " +
      "UNION ALL SELECT vec_id, version, v, false FROM up2 " +
      "UNION ALL SELECT vec_id, version, v, false FROM res " +
      "UNION ALL SELECT vec_id, version, cast(NULL as double[]), true FROM del), " +
      "latest AS (SELECT e.vec_id, e.version, e.v, e.ts FROM events e " +
      "JOIN (SELECT vec_id, max(version) AS mv FROM events GROUP BY vec_id) m " +
      "ON e.vec_id = m.vec_id AND e.version = m.mv), " +
      "live AS (SELECT vec_id, v FROM latest WHERE NOT ts), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 0), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 3), " +
      "lassign AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, l.v, c.cid, row_number() OVER (" +
      "PARTITION BY l.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn <= 2), " +
      "passign AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, b.v, c.cid, row_number() OVER (" +
      "PARTITION BY b.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn <= 2), " +
      "lcand AS (SELECT a.vec_id, max(list_inner_product(a.v, q.qv)) AS score " +
      "FROM lassign a JOIN probe p ON a.leaf_id = p.cid, q GROUP BY a.vec_id), " +
      "pcand AS (SELECT a.vec_id, max(list_inner_product(a.v, q.qv)) AS score " +
      "FROM passign a JOIN probe p ON a.leaf_id = p.cid, q GROUP BY a.vec_id), " +
      "lr AS (SELECT 'live' AS src, vec_id, score, row_number() OVER (" +
      "ORDER BY score DESC, vec_id) AS rn FROM lcand), " +
      "pr AS (SELECT 'pinned' AS src, vec_id, score, row_number() OVER (" +
      "ORDER BY score DESC, vec_id) AS rn FROM pcand) " +
      "SELECT src, vec_id, score FROM (" +
      "SELECT * FROM lr WHERE rn <= 15 UNION ALL " +
      "SELECT * FROM pr WHERE rn <= 15) ORDER BY src, vec_id"
  ) { (s, d) =>
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 0)
      .select(col("v")).head().getSeq[Double](0).toArray

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servelive_" + java.lang.Integer.toHexString(d.hashCode))
    for (p <- Seq(servePath, java.nio.file.Paths.get(
        servePath.toString + ".ckpt"))
        if java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => { java.nio.file.Files.delete(x); () })
    }
    val indexed = base.withColumn("leaf_id",
      explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model)

    // PIN the build snapshot BEFORE any stream traffic lands
    val pinned = graft.operators.Serving
      .openAt(s, servePath.toString, 1, id = "vec_id", vecCol = "v")
      .getOrElse(sys.error("r_serve_live: build must log snapshot v1"))

    // two REAL micro-batches: (1) re-embeds + new ids, (2) deletes +
    // a higher-version resurrect — LWW by version makes the final
    // state independent of batch arrival order
    val b1 = base.filter(col("vec_id") % 25 === 0)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2L))
      .unionByName(base.filter(col("vec_id") % 40 === 7)
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("v", transform(col("v"), x => x * 2))
        .withColumn("version", lit(2L)))
      .withColumn("tombstone", lit(false))
    val b2 = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), lit(null).cast("array<double>").as("v"),
        lit(3L).as("version"), lit(true).as("tombstone"))
      .unionByName(base.filter(col("vec_id") === 50)
        .select(col("vec_id"),
          transform(col("v"), x => x * 3).as("v"),
          lit(4L).as("version"), lit(false).as("tombstone")))
    val streamDir = graft.streaming.FileStreamFixture.write("servelive", d,
      "mixed re-embed/new/delete/resurrect serve traffic", Seq(b1, b2))
    val sq = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(streamDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", servePath.toString + ".ckpt")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
        val ups = batch.filter(!col("tombstone")).drop("tombstone")
        val dels = batch.filter(col("tombstone"))
          .select("vec_id", "version")
        if (!ups.isEmpty)
          IndexMaintenance.appendToServing(s, servePath.toString, ups,
            "vec_id", "v", "version")
        if (!dels.isEmpty)
          IndexMaintenance.removeFromServing(s, servePath.toString, dels,
            "vec_id", "version")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val live = graft.operators.Serving.open(s, servePath.toString,
      id = "vec_id", vecCol = "v")
    def top(sv: graft.operators.Serving, tag: String) =
      sv.search(query, 3, 15)
        .select(lit(tag).as("src"), col("vec_id"), col("score"))
    top(live, "live").unionByName(top(pinned, "pinned"))
      .orderBy("src", "vec_id")
  }

  /** SELECTIVITY-ADAPTIVE PER-QUERY restricts, driver-gated — the
    * recall escape for the multi-tenant batch
    * ([[graft.operators.Serving.searchBatchPerQueryAdaptive]]): the
    * plain per-query path routes BEFORE filtering, so a tenant whose
    * allow-map is ultra-selective hits the classic filtered-ANN
    * failure — its qualifying rows may all live in unprobed leaves.
    * Setup plants exactly that: negated vectors appended at
    * version 2 (they live in leaves a probe for the positive query
    * ranks last), `version` stats promoted to the manifest. One batch
    * carries two tenants: qid 0 allows version {2} — proven selective
    * by file stats (only the appended file can hold a qualifying
    * row), so its query leaves the routed batch and runs the EXACT
    * plan over the few surviving files, returning the planted rows
    * with full recall; qid 21 allows version {1} — every build file
    * qualifies, provably unselective, rides the standard probed
    * plan. The gate REQUIREs both per-map plan decisions and
    * hash-checks the union: the exact filtered top-k for tenant 0,
    * the routed probe replica for tenant 21.
    */
  private val rServePAdaptive = QueryDef.sqlChecked("r_serve_padaptive")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "b1 AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> -x) AS v, 2 AS version FROM base " +
      "WHERE vec_id % 30 = 7), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,21)), " +
      "ex AS (SELECT q.qid, b.vec_id, list_inner_product(b.v, q.qv) AS score " +
      "FROM b1 b JOIN q ON q.qid = 0), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2 AND qid = 21), " +
      "pr AS (SELECT p.qid, b.vec_id, " +
      "max(list_inner_product(b.v, q.qv)) AS score " +
      "FROM base b JOIN assign a ON b.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN q ON q.qid = p.qid " +
      "GROUP BY p.qid, b.vec_id), " +
      "allc AS (SELECT * FROM ex UNION ALL SELECT * FROM pr), " +
      "ranked AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM allc) " +
      "SELECT qid, vec_id, score, cast(rn as bigint) AS rn FROM ranked " +
      "WHERE rn <= 10 ORDER BY qid, rn"
  ) { (s, d) =>
    import s.implicits._
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)

    // deterministic build+promote+append fixture: cached per JVM
    // (the gate measures the per-query adaptive SEARCH surface)
    val servePath = AdaptiveLayoutCache.get(s, d, "servepqa") { path =>
      val indexed = base.withColumn("leaf_id",
        explode(IvfIndex.probeExpr(model, col("v"), 2)))
      IvfIndex.write(indexed, path, model)
      graft.operators.ServingManifest.promote(s, path, Seq("version"))
      val planted = base.filter(col("vec_id") % 30 === 7)
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("v", transform(col("v"), x => -x))
        .withColumn("version", lit(2))
      IndexMaintenance.appendToServing(s, path, planted,
        "vec_id", "v", "version", spill = 1)
    }

    val serving = graft.operators.Serving.open(s, servePath,
      id = "vec_id", vecCol = "v")
    require(serving.perQueryAdaptivePlan(Map("version" -> Seq("2")), 0.35),
      "r_serve_padaptive: the version=2 map must pick the exact plan")
    require(!serving.perQueryAdaptivePlan(Map("version" -> Seq("1")), 0.35),
      "r_serve_padaptive: the version=1 map must stay probed")
    val allows = Seq(
      (0L, Map("version" -> Seq("2"))),
      (21L, Map("version" -> Seq("1")))).toDF("qid", "allow")
    val queries = base.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(allows, "qid")
    serving.searchBatchPerQueryAdaptive(queries, "qid", "v", "allow",
      Seq("version"), nProbe = 2, k = 10, maxExactFraction = 0.35)
  }

  /** PER-QUERY NUMERIC restricts, driver-gated — the reference
    * attaches numeric restrictions per datapoint and filters on them
    * per request (`NumericRestriction` name + value + comparison op,
    * /root/reference/vector_store/setup_vector_search.py:41-77); here
    * each query row of one batch carries its own `(attr, op, v)` set
    * ANDed together, COMPOSED with its categorical allow-map, on the
    * selectivity-adaptive surface
    * ([[graft.operators.Serving.searchBatchPerQueryAdaptive]] with
    * `numCol`). Setup mirrors `r_serve_padaptive`: negated vectors
    * appended at version 2 live in leaves a probe for the positive
    * query ranks last. Two tenants: qid 0 carries a RANGE restriction
    * (version GE 2.0) and no allow-map — only the appended file can
    * satisfy it, the manifest stats prove it selective, and the gate
    * REQUIREs its escape to the exact plan (full recall over the
    * planted rows the probed plan provably misses); qid 21 carries an
    * EQ restriction (version EQ 1.0, every build file — provably
    * unselective, REQUIREd to stay probed) composed with a bucket
    * allow-map, so the probed side exercises the allow ∧ numeric
    * conjunction per candidate pair. The oracle replays both plans'
    * value semantics (doubles-compare, null-rejecting) and the driver
    * hash-checks every row.
    */
  private val rServeNumR = QueryDef.sqlChecked("r_serve_numr")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, " +
      "1 AS version, vec_id % 10 AS bucket FROM embeddings), " +
      "b1 AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> -x) AS v, 2 AS version, bucket FROM base " +
      "WHERE vec_id % 30 = 7), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,21)), " +
      // qid 0's exact escape: version >= 2.0 keeps exactly the
      // appended rows, every (qualifying row, query) pair scores
      "ex AS (SELECT q.qid, b.vec_id, list_inner_product(b.v, q.qv) AS score " +
      "FROM b1 b JOIN q ON q.qid = 0 " +
      "WHERE cast(b.version as double) >= 2.0), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2 AND qid = 21), " +
      // qid 21's probed plan: allow-map on bucket AND version EQ 1.0
      // per candidate pair — planted rows fail the EQ, base rows need
      // an odd allowed bucket
      "pr AS (SELECT p.qid, b.vec_id, " +
      "max(list_inner_product(b.v, q.qv)) AS score " +
      "FROM base b JOIN assign a ON b.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN q ON q.qid = p.qid " +
      "WHERE cast(b.bucket as varchar) IN ('1','3','5','9') " +
      "AND cast(b.version as double) = 1.0 " +
      "GROUP BY p.qid, b.vec_id), " +
      "allc AS (SELECT * FROM ex UNION ALL SELECT * FROM pr), " +
      "ranked AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM allc) " +
      "SELECT qid, vec_id, score, cast(rn as bigint) AS rn FROM ranked " +
      "WHERE rn <= 10 ORDER BY qid, rn"
  ) { (s, d) =>
    import s.implicits._
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      lit(1).as("version"), (col("vec_id") % 10).as("bucket"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)

    // deterministic build+promote+append fixture: cached per JVM
    // (the gate measures the per-query numeric-restrict SEARCH
    // surface)
    val servePath = AdaptiveLayoutCache.get(s, d, "servenumr") { path =>
      val indexed = base.withColumn("leaf_id",
        explode(IvfIndex.probeExpr(model, col("v"), 2)))
      IvfIndex.write(indexed, path, model)
      graft.operators.ServingManifest.promote(s, path,
        Seq("version", "bucket"))
      val planted = base.filter(col("vec_id") % 30 === 7)
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("v", transform(col("v"), x => -x))
        .withColumn("version", lit(2))
      IndexMaintenance.appendToServing(s, path, planted,
        "vec_id", "v", "version", spill = 1)
    }

    val serving = graft.operators.Serving.open(s, servePath,
      id = "vec_id", vecCol = "v")
    require(serving.perQueryAdaptivePlanNum(Map.empty,
      Seq(("version", "GE", 2.0)), 0.35),
      "r_serve_numr: the GE-2 restriction set must pick the exact plan")
    require(!serving.perQueryAdaptivePlanNum(
      Map("bucket" -> Seq("1", "3", "5", "9")),
      Seq(("version", "EQ", 1.0)), 0.35),
      "r_serve_numr: the EQ-1 set (every build file) must stay probed")
    val tenants = Seq(
      (0L, None: Option[Map[String, Seq[String]]],
        Seq(("version", "GE", 2.0))),
      (21L, Some(Map("bucket" -> Seq("1", "3", "5", "9"))),
        Seq(("version", "EQ", 1.0))))
      .toDF("qid", "allow", "num")
      .withColumn("num", expr("transform(num, r -> " +
        "named_struct('attr', r._1, 'op', r._2, 'v', r._3))"))
    val queries = base.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(tenants, "qid")
    serving.searchBatchPerQueryAdaptive(queries, "qid", "v", "allow",
      Seq("bucket"), nProbe = 2, k = 10, maxExactFraction = 0.35,
      numCol = Some("num"), numAttrs = Seq("version"))
  }

  /** AUTOPILOT MAINTENANCE SWEEP, driver-gated — upgrades the
    * deployment-state probe (SURVEY §2 D5) from spec-proven to
    * oracle-checked: the gate builds a BQ-companion serving layout
    * with fixed centroids, appends an upsert batch through the
    * maintained path, runs sweep 1 (full drift scan — clean), plants
    * a manifest-registered side-channel poison row (flipped vector,
    * stale sign code — the drift class the probe exists for), and
    * runs sweep 2 CHAINED on sweep 1's `bqCheckedThroughVersion`, so
    * the incremental probe reads ONLY the post-baseline appendage and
    * must flag exactly the planted row. Emits both sweeps' reports
    * (drift count, probed-through version, registry size, compaction
    * / split decisions); the oracle pins every value — the registry
    * size from the same corpus filter, the version numbers from the
    * manifest log's deterministic install sequence (v1 build, v2
    * append, v3 poison reconcile). A behavioral change anywhere in
    * the maintenance loop (probe coverage, chaining capture point,
    * version accounting, registry bookkeeping) flips a hashed value.
    */
  private val rMaintain = QueryDef.sqlChecked("r_maintain")(
    "WITH a AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 31 = 3) " +
      "SELECT 1 AS sweep, cast(0 as bigint) AS bq_drift, " +
      "cast(2 as int) AS checked_through, n AS delta_rows, " +
      "false AS compacted, cast(0 as int) AS splits FROM a " +
      "UNION ALL SELECT 2, cast(1 as bigint), cast(3 as int), n, " +
      "false, cast(0 as int) FROM a ORDER BY sweep"
  ) { (s, d) =>
    import s.implicits._
    import graft.streaming.IndexMaintenance
    import graft.streaming.IndexMaintenance.MaintenancePolicy
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_maintain_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base
      .withColumn("bq_code",
        graft.functions.bquant.packSigns(col("v")))
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 2)))
    IvfIndex.write(indexed, servePath.toString, model) // log v1
    val up = base.filter(col("vec_id") % 31 === 3)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => x * 1.5))
      .withColumn("version", lit(2L))
    IndexMaintenance.appendToServing(s, servePath.toString, up,
      "vec_id", "v", "version") // log v2; registry = |up|
    val policy = MaintenancePolicy(maxLeafSize = 1000000,
      checkBqCodes = true)
    val r1 = IndexMaintenance.maintain(s, servePath.toString,
      "vec_id", "v", "version", policy)
    // side-channel poison INTO the manifest: flipped vector keeps its
    // stale code; the reconcile installs log v3
    s.read.parquet(servePath.toString).limit(1).drop("leaf_id")
      .withColumn("vec_id", lit(999999L))
      .withColumn("v", transform(col("v"), x => -x))
      .write.mode("append").parquet(servePath.toString + "/leaf_id=0")
    graft.operators.ServingManifest.reconcile(s, servePath.toString, Seq(0))
    val r2 = IndexMaintenance.maintain(s, servePath.toString,
      "vec_id", "v", "version",
      policy.copy(bqCheckSinceVersion =
        Some(r1.bqCheckedThroughVersion)))
    Seq(
      (1, r1.bqDriftRows, r1.bqCheckedThroughVersion, r1.deltaRows,
        r1.compacted, r1.splits),
      (2, r2.bqDriftRows, r2.bqCheckedThroughVersion, r2.deltaRows,
        r2.compacted, r2.splits))
      .toDF("sweep", "bq_drift", "checked_through", "delta_rows",
        "compacted", "splits")
      .orderBy("sweep")
  }

  /** MMR through the RESIDENT SERVING HANDLE
    * ([[graft.operators.Serving.searchMmr]]) — the r14 verdict's top
    * API gap: `v_ann_mmr` gated the routed-probe → coarse-pool → MMR
    * composition, but the serving surface (the deploy-once,
    * query-many shape of the reference — index_manager.py deploy vs
    * rag/search.py query) had no way to reach it without
    * re-assembling the stages by hand. Same layout as the other
    * handle gates (ServeBatchCache: 8 deterministic centroids,
    * nProbe=1 assignment), same oracle recurrence as `v_ann_mmr`
    * minus the self-exclusion — the handle serves whatever is in the
    * layout, and vec 0 (the query itself) being pick 1 is the
    * deterministic proof that relevance leads step 1. The driver
    * hash-compares every (step, id, sq) row.
    */
  private val rServeMmr = QueryDef.sqlChecked("r_serve_mmr")(
    "WITH RECURSIVE " +
      "base AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 0), " +
      "probe AS (SELECT cid FROM cent CROSS JOIN q " +
      "ORDER BY list_inner_product(cv, cv) - 2 * list_inner_product(qv, cv), cid LIMIT 2), " +
      "assign AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, b.v, c.cid, row_number() OVER (" +
      "PARTITION BY b.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "cand AS (SELECT a.vec_id AS vec_id, a.v AS v, " +
      "list_inner_product(a.v, (SELECT qv FROM q)) AS sq " +
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid " +
      "ORDER BY sq DESC, vec_id LIMIT 20), " +
      "pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb, " +
      "list_inner_product(a.v, b.v) AS s FROM cand a, cand b WHERE a.vec_id <> b.vec_id), " +
      "sel AS (" +
      "SELECT 1 AS step, (SELECT vec_id FROM cand ORDER BY sq DESC, vec_id LIMIT 1) AS pick, " +
      "[(SELECT vec_id FROM cand ORDER BY sq DESC, vec_id LIMIT 1)] AS sel_ids " +
      "UNION ALL " +
      "SELECT step + 1, pick, list_append(sel_ids, pick) FROM (" +
      "SELECT s.step AS step, s.sel_ids AS sel_ids, c.vec_id AS pick, " +
      "row_number() OVER (ORDER BY 0.5*c.sq - 0.5*(" +
      "SELECT max(p.s) FROM pairs p WHERE p.pa = c.vec_id AND list_contains(s.sel_ids, p.pb)" +
      ") DESC, c.vec_id) AS rn " +
      "FROM sel s JOIN cand c ON NOT list_contains(s.sel_ids, c.vec_id) " +
      "WHERE s.step < 5) t WHERE rn = 1) " +
      "SELECT cast(step as bigint) AS step, pick AS vec_id, " +
      "(SELECT sq FROM cand WHERE cand.vec_id = sel.pick) AS sq " +
      "FROM sel ORDER BY step"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val path = ServeBatchCache.get(s, d, cents)
    val serving = graft.operators.Serving.open(s, path)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    serving.searchMmr(query, nProbe = 2, kPool = 20, k = 5, lam = 0.5)
  }

  /** BATCHED MMR through the RESIDENT SERVING HANDLE
    * ([[graft.operators.Serving.searchMmrBatch]]) — the serving
    * matrix's batch column extended to the diversity surface (r15
    * verdict Next #4): three queries route (2 of 8 leaves each, f32
    * router expression — exact below the router threshold), score
    * one In-list-pruned candidate scan of the probed-leaf union, cut
    * per-query top-20 pools, and run three INDEPENDENT greedy MMR
    * recurrences in parallel flatMapGroups tasks. The oracle replays
    * per-query routing, the build's leaf assignment, the pool cuts,
    * and advances ALL queries' recursions one step per iteration
    * (argmax partitioned by query) — so cross-query independence is
    * itself hash-gated, exactly like `v_mmr_batch` proved for the
    * un-routed form.
    */
  private val rServeMmrBatch = QueryDef.sqlChecked("r_serve_mmr_batch")(
    "WITH RECURSIVE " +
      "base AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "qs AS (SELECT vec_id AS query_id, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id < 3), " +
      "probe AS (SELECT query_id, cid FROM (SELECT q.query_id, c.cid, " +
      "row_number() OVER (PARTITION BY q.query_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - 2 * list_inner_product(q.qv, c.cv), c.cid) AS rn " +
      "FROM qs q CROSS JOIN cent c) WHERE rn <= 2), " +
      "assign AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, b.v, c.cid, row_number() OVER (" +
      "PARTITION BY b.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "cand AS (SELECT query_id, vec_id, v, sq FROM (" +
      "SELECT q.query_id, a.vec_id, a.v, list_inner_product(a.v, q.qv) AS sq, " +
      "row_number() OVER (PARTITION BY q.query_id " +
      "ORDER BY list_inner_product(a.v, q.qv) DESC, a.vec_id) AS rr " +
      "FROM qs q JOIN probe p ON p.query_id = q.query_id " +
      "JOIN assign a ON a.leaf_id = p.cid) WHERE rr <= 20), " +
      "pairs AS (SELECT a.query_id AS query_id, a.vec_id AS pa, b.vec_id AS pb, " +
      "list_inner_product(a.v, b.v) AS s FROM cand a JOIN cand b " +
      "ON a.query_id = b.query_id AND a.vec_id <> b.vec_id), " +
      "sel AS (" +
      "SELECT query_id, 1 AS step, vec_id AS pick, [vec_id] AS sel_ids FROM (" +
      "SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY sq DESC, vec_id) AS rn FROM cand) t0 " +
      "WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT query_id, step + 1, pick, list_append(sel_ids, pick) FROM (" +
      "SELECT s.query_id AS query_id, s.step AS step, s.sel_ids AS sel_ids, c.vec_id AS pick, " +
      "row_number() OVER (PARTITION BY s.query_id ORDER BY 0.5*c.sq - 0.5*(" +
      "SELECT max(p.s) FROM pairs p WHERE p.query_id = s.query_id AND p.pa = c.vec_id AND list_contains(s.sel_ids, p.pb)" +
      ") DESC, c.vec_id) AS rn " +
      "FROM sel s JOIN cand c ON c.query_id = s.query_id AND NOT list_contains(s.sel_ids, c.vec_id) " +
      "WHERE s.step < 5) t WHERE rn = 1) " +
      "SELECT query_id, cast(step as bigint) AS step, pick AS vec_id, " +
      "(SELECT sq FROM cand WHERE cand.query_id = sel.query_id AND cand.vec_id = sel.pick) AS sq " +
      "FROM sel ORDER BY query_id, step"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val path = ServeBatchCache.get(s, d, cents)
    val serving = graft.operators.Serving.open(s, path)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    serving.searchMmrBatch(queries, "query_id", "qv",
      nProbe = 2, kPool = 20, k = 5, lam = 0.5)
  }

  val defs: Seq[QueryDef] = Seq(rDatapoint, rMetadataLww, rPointLookup,
    rSearchE2e, rRecluster, rStreamUpsert, rStreamServe, rServeApi,
    rServeManifest, rServeSnapshot, rServeCdc, rServeClone, rServeBatch,
    rServeRestricts, rServePct, rServeAllow2, rServePerQuery, rServePAdaptive,
    rServeNumR, rServeLive, rMaintain,
    rServeDelete, rServePrefilter, rServeMmr, rServeMmrBatch, rRebalance,
    vAnnBuild, vAnnCertified,
    vMaxsimPruned, vMaxsimFiltered, vMaxsimBatch, vMaxsimPerQuery, vAnnBuild2, vAnnIvf, vAnnPipeline, vAnnSql, vAnnSqlE2e,
    vAnnRouted, vAnnRecallCurve, vKnnJoin)
}
