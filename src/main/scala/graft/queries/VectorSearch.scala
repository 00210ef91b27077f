package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.vectors
import graft.operators.Knn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-search operator coverage over the `embeddings` table:
  * exact kNN under dot/cosine/L2, batch kNN, restrict-filtered kNN,
  * crowding-capped kNN, similarity range search, norms.
  *
  * Oracles use DuckDB's list_* functions on DOUBLE[] — graft's
  * expressions were calibrated to match their accumulation order
  * bit-for-bit (see VectorExpressions).
  */
object VectorSearch {

  private val dotE = "list_inner_product(cast(e.embedding as double[]), cast(q.embedding as double[]))"
  private val cosE = "list_cosine_similarity(cast(e.embedding as double[]), cast(q.embedding as double[]))"
  private val qSub = "(SELECT cast(embedding as double[]) FROM embeddings WHERE vec_id = 0)"

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)

  private def queriesDf(s: SparkSession, d: String, n: Int): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Single-query exact kNN, dot product (reference default metric). */
  private val vKnnDot = QueryDef.sqlChecked("v_knn_dot")(
    "SELECT e.vec_id AS vec_id, " +
      s"list_inner_product(cast(e.embedding as double[]), $qSub) AS score " +
      "FROM embeddings e WHERE e.vec_id <> 0 ORDER BY score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    val q = corpus(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = corpus(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        vectors.dotProduct(col("embedding"), col("q_emb")).as("score"))
    Knn.topK(scored, 10, "vec_id", Knn.Dot)
  }

  /** Single-query exact kNN, cosine similarity. */
  private val vKnnCosine = QueryDef.sqlChecked("v_knn_cosine")(
    "SELECT e.vec_id AS vec_id, " +
      s"list_cosine_similarity(cast(e.embedding as double[]), $qSub) AS score " +
      "FROM embeddings e WHERE e.vec_id <> 0 ORDER BY score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    val q = corpus(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = corpus(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        vectors.cosineSimilarity(col("embedding"), col("q_emb")).as("score"))
    Knn.topK(scored, 10, "vec_id", Knn.Cosine)
  }

  /** Single-query exact kNN, L2 distance (ascending). */
  private val vKnnL2 = QueryDef.sqlChecked("v_knn_l2")(
    "SELECT e.vec_id AS vec_id, " +
      s"list_distance(cast(e.embedding as double[]), $qSub) AS score " +
      "FROM embeddings e WHERE e.vec_id <> 0 ORDER BY score ASC, vec_id LIMIT 10"
  ) { (s, d) =>
    val q = corpus(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = corpus(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        vectors.l2Distance(col("embedding"), col("q_emb")).as("score"))
    Knn.topK(scored, 10, "vec_id", Knn.L2)
  }

  /** Batch kNN: 8 broadcast queries, per-query top-5 via rank-limit
    * window (WindowGroupLimit partial top-k at scale).
    */
  private val vKnnBatch = QueryDef.sqlChecked("v_knn_batch")(
    "SELECT query_id, vec_id, score, rn FROM (" +
      "SELECT query_id, vec_id, score, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn " +
      s"FROM (SELECT q.vec_id AS query_id, e.vec_id AS vec_id, $dotE AS score " +
      "FROM embeddings e, embeddings q WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id)) " +
      "WHERE rn <= 5 ORDER BY query_id, rn"
  ) { (s, d) =>
    val scored = corpus(s, d)
      .crossJoin(broadcast(queriesDf(s, d, 8)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.dotProduct(col("embedding"), col("q_emb")).as("score"))
    Knn.topKPerQuery(scored, 5, "query_id", "vec_id", Knn.Dot)
      .orderBy("query_id", "rn")
  }

  /** Restrict-filtered kNN: categorical (label) + numeric (vec_id)
    * restricts applied BEFORE scoring — predicate pushdown reaches the
    * parquet scan, the ANN analog of the reference's filtered search.
    */
  private val vKnnFiltered = QueryDef.sqlChecked("v_knn_filtered")(
    "SELECT e.vec_id AS vec_id, e.label AS label, " +
      s"list_inner_product(cast(e.embedding as double[]), $qSub) AS score " +
      "FROM embeddings e WHERE e.label = 3 AND e.vec_id >= 100 " +
      "ORDER BY score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    val q = corpus(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = corpus(s, d)
      .filter(col("label") === 3 && col("vec_id") >= 100)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        vectors.dotProduct(col("embedding"), col("q_emb")).as("score"))
    Knn.topK(scored, 10, "vec_id", Knn.Dot)
  }

  /** Crowding: at most 2 results per (query, label), then top-6 —
    * the reference's diversity cap (setup_vector_search.py:65-67).
    */
  private val vCrowding = QueryDef.sqlChecked("v_crowding")(
    "SELECT query_id, vec_id, label, score, rn FROM (" +
      "SELECT query_id, vec_id, label, score, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn " +
      "FROM (SELECT query_id, vec_id, label, score FROM (" +
      "SELECT query_id, vec_id, label, score, " +
      "row_number() OVER (PARTITION BY query_id, label ORDER BY score DESC, vec_id) AS crn " +
      s"FROM (SELECT q.vec_id AS query_id, e.vec_id AS vec_id, e.label AS label, $dotE AS score " +
      "FROM embeddings e, embeddings q WHERE q.vec_id < 4 AND e.vec_id <> q.vec_id)" +
      ") WHERE crn <= 2)) " +
      "WHERE rn <= 6 ORDER BY query_id, rn"
  ) { (s, d) =>
    val scored = corpus(s, d)
      .crossJoin(broadcast(queriesDf(s, d, 4)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        vectors.dotProduct(col("embedding"), col("q_emb")).as("score"))
    val crowded = Knn.crowd(scored, 2, "query_id", "label", "vec_id", Knn.Dot)
    Knn.topKPerQuery(crowded, 6, "query_id", "vec_id", Knn.Dot)
      .orderBy("query_id", "rn")
  }

  /** Similarity range search (theta join on score threshold). */
  private val vRangeCosine = QueryDef.sqlChecked("v_range_cosine")(
    s"SELECT q.vec_id AS query_id, e.vec_id AS vec_id, $cosE AS score " +
      "FROM embeddings e, embeddings q " +
      s"WHERE q.vec_id < 3 AND e.vec_id <> q.vec_id AND $cosE >= 0.25 " +
      "ORDER BY query_id, vec_id"
  ) { (s, d) =>
    val scored = corpus(s, d)
      .crossJoin(broadcast(queriesDf(s, d, 3)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosineSimilarity(col("embedding"), col("q_emb")).as("score"))
    Knn.rangeSearch(scored, 0.25, Knn.Cosine)
      .orderBy("query_id", "vec_id")
  }

  /** Top vectors by L2 norm (covers the norm expression). */
  private val vNormTop = QueryDef.sqlChecked("v_norm_top")(
    "SELECT vec_id, sqrt(list_inner_product(cast(embedding as double[]), " +
      "cast(embedding as double[]))) AS norm " +
      "FROM embeddings ORDER BY norm DESC, vec_id LIMIT 20"
  ) { (s, d) =>
    corpus(s, d)
      .select(col("vec_id"), vectors.l2Norm(col("embedding")).as("norm"))
      .orderBy(col("norm").desc, col("vec_id"))
      .limit(20)
  }

  /** Per-group top-k via the engine's one top-k aggregate
    * (TopKCrowded, a TypedImperativeAggregate, with no crowding
    * attribute and no cap): one aggregation pass with k-row partial
    * buffers instead of a per-partition sort + rank filter —
    * hash-checked against the identically tie-broken window form.
    */
  private val vTopkAgg = QueryDef.sqlChecked("v_topk_agg")(
    "SELECT label, vec_id, nrm FROM (SELECT label, vec_id, nrm, " +
      "row_number() OVER (PARTITION BY label ORDER BY nrm DESC, vec_id) AS rn " +
      "FROM (SELECT label, vec_id, sqrt(list_inner_product(" +
      "cast(embedding as double[]), cast(embedding as double[]))) AS nrm " +
      "FROM embeddings)) WHERE rn <= 3 ORDER BY label, vec_id"
  ) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("label"), col("vec_id"),
      graft.functions.vectors.l2Norm(col("embedding")).as("nrm"))
    e.groupBy("label")
      .agg(graft.functions.TopKCrowded
        .column(col("nrm"), col("vec_id"), None, lit(3), lit(null)).as("top"))
      .select(col("label"), explode(col("top")).as("t"))
      .select(col("label"), col("t.id").as("vec_id"), col("t.score").as("nrm"))
      .orderBy("label", "vec_id")
  }

  /** Multi-vector LATE-INTERACTION retrieval (the ColBERT MaxSim
    * operator): a query is a SET of vectors, a document is its set of
    * vectors (here: a `label`'s embedding rows), and
    * score(doc) = Σ_q max_{v∈doc} ⟨q, v⟩ — each query vector finds
    * its best-matching document vector, the per-vector bests sum.
    *
    * Spark-first shape, and the scalable one: broadcast the (small)
    * query vector set, one map-side pass scores every (row, qvec)
    * pair, partial max aggregates per (doc, qvec) collapse BEFORE the
    * shuffle (|docs|×|qvecs| rows reach it, not |rows|×|qvecs|),
    * then the per-doc sum is exact-decimal (order-independent, so
    * AQE/retries can't flip last bits; Exact.dsum). At 100 TB the
    * per-vector max can additionally pre-prune with the IVF probe
    * (route each query vector, score only its probed leaves) — the
    * same composition `v_ann_sql` gates for single-vector search.
    */
  private val vMaxsim = QueryDef.sqlChecked("v_maxsim")(
    "WITH q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,1,2)), " +
      "per AS (SELECT e.label, q.qid, " +
      "max(list_inner_product(cast(e.embedding as double[]), q.qv)) AS best " +
      "FROM embeddings e, q GROUP BY e.label, q.qid) " +
      "SELECT label, " + graft.Exact.sqlDsum("best", 12) + " AS score " +
      "FROM per GROUP BY label ORDER BY score DESC, label LIMIT 5"
  ) { (s, d) =>
    val q = corpus(s, d).filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val per = corpus(s, d).crossJoin(broadcast(q))
      .groupBy(col("label"), col("qid"))
      .agg(max(vectors.dotProduct(col("embedding"), col("qv"))).as("best"))
    per.groupBy(col("label"))
      .agg(graft.Exact.dsum(col("best"), 12).as("score"))
      .orderBy(col("score").desc, col("label"))
      .limit(5)
  }

  /** Per-class embedding distribution stats — the drift/health monitor
    * an embedding pipeline runs per ingest wave: for every (label,
    * dimension) cell, the exact coordinate sum and mean. Sums go
    * through the exact-decimal trick so they are independent of
    * partitioning and bit-identical to the oracle; the mean is then
    * one deterministic division. Shape at scale: one posexplode (no
    * shuffle until the agg) into a map-side-combined (label × dim)
    * aggregation — output cardinality is |labels|·dim regardless of
    * corpus size, so the monitor costs one scan.
    */
  private val vEmbedStats = QueryDef.sqlChecked("v_embed_stats")(
    "SELECT label, cast(s.dim as bigint) AS dim, count(*) AS n, " +
      s"${graft.Exact.sqlDsumWide("cast(embedding as double[])[s.dim+1]", 9)} AS sx, " +
      s"${graft.Exact.sqlDsumWide("cast(embedding as double[])[s.dim+1]", 9)} / count(*) AS mean " +
      "FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) s " +
      "GROUP BY 1, 2 ORDER BY label, dim"
  ) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim").cast("bigint").as("dim"))
      .agg(count(lit(1)).as("n"), graft.Exact.dsumWide(col("x"), 9).as("sx"))
      .withColumn("mean", col("sx") / col("n"))
      .orderBy("label", "dim")
  }

  /** Matryoshka (MRL, Kusupati et al. 2022) prefix-dimension search:
    * coarse top-C on the FIRST [[MrlPrefix]] dims, exact full-dim
    * rerank of the C survivors, final top-k. The production payoff of
    * MRL-trained embeddings is that the coarse pass reads a 4× (here
    * 64→16) narrower vector — stored column-split (prefix segment in
    * its own parquet column/file), the candidate scan's I/O drops by
    * the same factor, and the full vectors are fetched for only C
    * rows per query. Both stages are deterministic IEEE dots with
    * total (score, vec_id) orders, so the gate is a full hash match.
    */
  val MrlPrefix = 16
  val MrlCand = 50
  private val vMrlSearch = QueryDef.sqlChecked("v_mrl_search")(
    s"WITH c AS (SELECT e.vec_id AS vec_id, " +
      s"list_inner_product(cast(e.embedding as double[])[1:$MrlPrefix], $qSub[1:$MrlPrefix]) AS cs " +
      "FROM embeddings e WHERE e.vec_id <> 0), " +
      s"cand AS (SELECT vec_id FROM c ORDER BY cs DESC, vec_id LIMIT $MrlCand) " +
      s"SELECT e.vec_id AS vec_id, $dotE AS score " +
      s"FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN (SELECT cast(embedding as double[]) AS embedding FROM embeddings WHERE vec_id = 0) q " +
      "ORDER BY score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    val q = corpus(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val coarse = corpus(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("q_emb"),
        vectors.dotProduct(slice(col("embedding"), 1, MrlPrefix),
          slice(col("q_emb"), 1, MrlPrefix)).as("score"))
    val cand = Knn.topK(coarse, MrlCand, "vec_id", Knn.Dot)
    Knn.topK(
      cand.select(col("vec_id"),
        vectors.dotProduct(col("embedding"), col("q_emb")).as("score")),
      10, "vec_id", Knn.Dot)
  }

  /** MRL truncation-width tuning table: overlap@10 between the
    * prefix-p top-10 and the full-dim top-10 for p ∈ {4,8,16,32,64}
    * — the measurement that picks [[MrlPrefix]] (and certifies p=64
    * ≡ full at overlap 10). On the synthetic corpus the embeddings
    * are random (not matryoshka-trained), so the table honestly
    * reports low prefix agreement — exactly the signal that tells an
    * operator whether their embedding model was MRL-trained before
    * they turn the truncation knob on. Same counts-of-agreement design as the
    * BQ m-sizing table (`v_bq_recall_curve`): output is |widths|
    * exact-integer rows regardless of corpus size; each width's
    * rank list is a partial top-k before the single-partition
    * window, so the sweep costs one corpus scan per width over
    * prefix-length data.
    */
  private val vMrlCurve = QueryDef.sqlChecked("v_mrl_curve")(
    "WITH w AS (SELECT unnest([4, 8, 16, 32, 64]) AS p), " +
      "full_r AS (SELECT e.vec_id AS vec_id, " +
      s"row_number() OVER (ORDER BY $dotE DESC, e.vec_id) AS r " +
      s"FROM embeddings e CROSS JOIN (SELECT cast(embedding as double[]) AS embedding FROM embeddings WHERE vec_id = 0) q WHERE e.vec_id <> 0), " +
      "pref_r AS (SELECT w.p AS p, e.vec_id AS vec_id, " +
      "row_number() OVER (PARTITION BY w.p ORDER BY " +
      s"list_inner_product(cast(e.embedding as double[])[1:w.p], $qSub[1:w.p]) DESC, e.vec_id) AS r " +
      "FROM embeddings e CROSS JOIN w WHERE e.vec_id <> 0) " +
      "SELECT cast(p as bigint) AS p, count(f.vec_id) AS overlap10 " +
      "FROM pref_r LEFT JOIN (SELECT vec_id FROM full_r WHERE r <= 10) f USING (vec_id) " +
      "WHERE pref_r.r <= 10 GROUP BY p ORDER BY p"
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val q = corpus(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scoredFull = corpus(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        vectors.dotProduct(col("embedding"), col("q_emb")).as("score"))
    val fullTop = scoredFull
      .withColumn("r", row_number().over(
        Window.orderBy(col("score").desc, col("vec_id"))))
      .filter(col("r") <= 10).select(col("vec_id"), lit(1).as("hit"))
    val widths = Seq(4, 8, 16, 32, 64).toDF("p")
    val prefTop = corpus(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(widths)).crossJoin(broadcast(q))
      .select(col("p"), col("vec_id"),
        vectors.dotProduct(slice(col("embedding"), lit(1), col("p")),
          slice(col("q_emb"), lit(1), col("p"))).as("cs"))
      .withColumn("r", row_number().over(
        Window.partitionBy("p").orderBy(col("cs").desc, col("vec_id"))))
      .filter(col("r") <= 10)
    prefTop.join(broadcast(fullTop), Seq("vec_id"), "left")
      .groupBy(col("p").cast("bigint").as("p"))
      .agg(count(col("hit")).as("overlap10"))
      .orderBy("p")
  }

  /** MMR diversity re-rank over the top-20 dot candidates: greedy
    * λ=1/2 relevance-vs-redundancy selection of 5
    * ([[graft.operators.Knn.mmrRerank]] — one flatMapGroups task per
    * query over its BOUNDED candidate set; queries parallelize). The
    * oracle replays the greedy recurrence as a DuckDB RECURSIVE CTE
    * carrying the selected-id list, with the same total
    * (score desc, vec_id) argmax order — every pick and its relevance
    * score hash-gated.
    */
  private val vMmrRerank = QueryDef.sqlChecked("v_mmr_rerank")(
    "WITH RECURSIVE " +
      s"cand AS (SELECT vec_id, cast(embedding as double[]) AS v, " +
      s"list_inner_product(cast(embedding as double[]), $qSub) AS sq " +
      "FROM embeddings WHERE vec_id <> 0 ORDER BY sq DESC, vec_id LIMIT 20), " +
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
    val q = corpus(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = corpus(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        vectors.dotProduct(col("embedding"), col("q_emb")).as("score"))
    val cand = Knn.topK(scored, 20, "vec_id", Knn.Dot)
      .select(lit(0L).as("query_id"), col("vec_id"), col("v"),
        col("score").as("sq"))
    Knn.mmrRerank(cand, 5, 0.5)
      .select(col("step"), col("vec_id"), col("sq"))
      .orderBy("step")
  }

  /** BATCHED MMR — [[vMmrRerank]]'s production shape: three queries
    * re-rank their own top-20 candidate sets concurrently, one
    * flatMapGroups task each. The oracle's recursion advances ALL
    * queries one step per iteration (argmax partitioned by query),
    * so cross-query independence is itself gated: any leakage of one
    * query's selected set into another's argmax changes a pick and
    * fails the hash.
    */
  private val vMmrBatch = QueryDef.sqlChecked("v_mmr_batch")(
    "WITH RECURSIVE " +
      "qs AS (SELECT vec_id AS query_id, cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id < 3), " +
      "cand AS (SELECT query_id, e.vec_id AS vec_id, cast(e.embedding as double[]) AS v, sq FROM (" +
      "SELECT q.query_id, e.vec_id, list_inner_product(cast(e.embedding as double[]), q.qv) AS sq, " +
      "row_number() OVER (PARTITION BY q.query_id ORDER BY list_inner_product(cast(e.embedding as double[]), q.qv) DESC, e.vec_id) AS rr " +
      "FROM embeddings e CROSS JOIN qs q WHERE e.vec_id >= 3) s " +
      "JOIN embeddings e USING (vec_id) WHERE rr <= 20), " +
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
    val qs = corpus(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = corpus(s, d).filter(col("vec_id") >= 3)
      .crossJoin(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        vectors.dotProduct(col("embedding"), col("q_emb")).as("score"))
    val cand = Knn.topKPerQuery(scored, 20, "query_id", "vec_id", Knn.Dot)
      .select(col("query_id"), col("vec_id"), col("v"), col("score").as("sq"))
    Knn.mmrRerank(cand, 5, 0.5)
      .orderBy("query_id", "step")
  }

  /** Embedding-distribution drift monitor — the ML-level sibling of
    * the file-level BQ drift probe: per dimension, compare the
    * positive-mass fraction between two corpus snapshots (stand-ins
    * here: even vs odd vec_id halves) as exact integers —
    * ⌊1000·pos/n⌋ per side and their signed difference. A retrained
    * or corrupted embedder shifts per-dim sign balance long before
    * recall collapses; this table is the alert signal. One scan,
    * map-side-combined (dim)-keyed aggregate, output |dims| rows
    * regardless of corpus size — the same monitoring cost contract as
    * `v_embed_stats`. Exact integer arithmetic end to end (a float
    * PSI needs logs; the sign-mass difference is the drift signal
    * without them).
    */
  private val vEmbedDrift = QueryDef.sqlChecked("v_embed_drift")(
    "SELECT cast(s.dim as bigint) AS dim, " +
      "count(*) FILTER (WHERE vec_id % 2 = 0) AS n_a, " +
      "count(*) FILTER (WHERE vec_id % 2 = 0 AND cast(embedding as double[])[s.dim+1] > 0) AS pos_a, " +
      "count(*) FILTER (WHERE vec_id % 2 = 1) AS n_b, " +
      "count(*) FILTER (WHERE vec_id % 2 = 1 AND cast(embedding as double[])[s.dim+1] > 0) AS pos_b, " +
      "(1000 * count(*) FILTER (WHERE vec_id % 2 = 0 AND cast(embedding as double[])[s.dim+1] > 0)) " +
      "// count(*) FILTER (WHERE vec_id % 2 = 0) - " +
      "(1000 * count(*) FILTER (WHERE vec_id % 2 = 1 AND cast(embedding as double[])[s.dim+1] > 0)) " +
      "// count(*) FILTER (WHERE vec_id % 2 = 1) AS drift_milli " +
      "FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) s " +
      "GROUP BY s.dim ORDER BY dim"
  ) { (s, d) =>
    val a = col("vec_id") % 2 === 0
    val pos = col("x") > 0
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("bigint").as("dim"))
      .agg(
        count(when(a, 1)).as("n_a"),
        count(when(a && pos, 1)).as("pos_a"),
        count(when(!a, 1)).as("n_b"),
        count(when(!a && pos, 1)).as("pos_b"))
      .withColumn("drift_milli",
        expr("(1000 * pos_a) div n_a - (1000 * pos_b) div n_b"))
      .orderBy("dim")
  }

  /** MMR over IVF-PROBED candidates — the production serving
    * composition: leaf routing (fixed 8-centroid model, nProbe=2)
    * bounds the candidate scan to the probed leaves, the coarse dot
    * ranks the survivors, and the MMR group diversifies the top-20.
    * Every stage boundary is hash-gated: a routing change alters the
    * candidate pool, a pool change alters the picks. The oracle
    * replays routing (MIPS order ‖c‖²−2·q·c), leaf-filtered scoring,
    * and the greedy recurrence in one recursive CTE.
    */
  private val vAnnMmr = QueryDef.sqlChecked("v_ann_mmr")(
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
      "FROM assign a JOIN probe p ON a.leaf_id = p.cid WHERE a.vec_id <> 0 " +
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
    import graft.operators.IvfIndex
    val base = corpus(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val q = base.filter(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val assign = base.withColumn("leaf_id",
      IvfIndex.probeExpr(model, col("v"), 1)(0))
    val probed = assign
      .crossJoin(broadcast(q))
      .withColumn("pls", IvfIndex.probeExpr(model, col("qv"), 2))
      .filter(array_contains(col("pls"), col("leaf_id")) &&
        col("vec_id") =!= 0)
      .select(col("vec_id"), col("v"),
        vectors.dotProduct(col("v"), col("qv")).as("score"))
    val cand = Knn.topK(probed, 20, "vec_id", Knn.Dot)
      .select(lit(0L).as("query_id"), col("vec_id"), col("v"),
        col("score").as("sq"))
    Knn.mmrRerank(cand, 5, 0.5)
      .select(col("step"), col("vec_id"), col("sq"))
      .orderBy("step")
  }

  val defs: Seq[QueryDef] = Seq(vKnnDot, vKnnCosine, vKnnL2, vKnnBatch,
    vKnnFiltered, vCrowding, vRangeCosine, vNormTop, vTopkAgg, vMaxsim,
    vEmbedStats, vMrlSearch, vMrlCurve, vMmrRerank, vMmrBatch, vEmbedDrift,
    vAnnMmr)
}
