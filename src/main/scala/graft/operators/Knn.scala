package graft.operators

import graft.functions.vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact k-nearest-neighbor search, the oracle for the ANN path.
  *
  * Mirrors the reference's implied query lifecycle (SURVEY §3 E3):
  * query → score against corpus (DOT_PRODUCT_DISTANCE,
  * /root/reference/common/config.py:33) → optional restrict filters
  * (/root/reference/vector_store/setup_vector_search.py:45-62) →
  * crowding cap (:65-67) → top-k (approximate_neighbors_count,
  * common/config.py:32).
  *
  * Scale shape: the query set is broadcast (it is k·|Q| rows, always
  * small next to the corpus), scoring is a codegen'd expression inside
  * the corpus scan stage (no shuffle), and the per-query rank limit is
  * a window that Spark 3.5+ rewrites to WindowGroupLimit — a partial
  * per-partition top-k BEFORE the shuffle, so only |partitions|·k rows
  * move. Single-query top-k plans as TakeOrderedAndProject (no full
  * sort, no shuffle of the corpus).
  */
object Knn {

  sealed trait Metric {
    def score(corpusVec: Column, queryVec: Column): Column
    /** true if higher score = closer */
    def descending: Boolean
  }
  case object Dot extends Metric {
    def score(c: Column, q: Column): Column = vectors.dotProduct(c, q)
    def descending = true
  }
  case object Cosine extends Metric {
    def score(c: Column, q: Column): Column = vectors.cosineSimilarity(c, q)
    def descending = true
  }
  case object L2 extends Metric {
    def score(c: Column, q: Column): Column = vectors.l2Distance(c, q)
    def descending = false
  }

  private def rankOrder(metric: Metric, tieBreak: Column): Seq[Column] = {
    val s = if (metric.descending) col("score").desc else col("score").asc
    Seq(s, tieBreak)
  }

  /** Score every corpus row against every query row (queries broadcast).
    * Output: queries' columns + corpus' columns + `score`.
    */
  def score(corpus: DataFrame, queries: DataFrame, corpusVec: String,
      queryVec: String, metric: Metric): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .withColumn("score", metric.score(col(corpusVec), col(queryVec)))
      .drop(corpusVec, queryVec)

  /** Per-query top-k over a scored set, deterministic tie-break. */
  def topKPerQuery(scored: DataFrame, k: Int, queryId: String,
      tieBreak: String, metric: Metric): DataFrame = {
    val w = Window.partitionBy(queryId)
      .orderBy(rankOrder(metric, col(tieBreak)): _*)
    scored.withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** Crowding/diversity cap: keep at most `cap` results per
    * (query, crowdingAttr) before final ranking.
    */
  def crowd(scored: DataFrame, cap: Int, queryId: String,
      crowdingAttr: String, tieBreak: String, metric: Metric): DataFrame = {
    val w = Window.partitionBy(queryId, crowdingAttr)
      .orderBy(rankOrder(metric, col(tieBreak)): _*)
    scored.withColumn("crn", row_number().over(w))
      .filter(col("crn") <= cap)
      .drop("crn")
  }

  /** Single-query exact top-k: plans as TakeOrderedAndProject. */
  def topK(scored: DataFrame, k: Int, tieBreak: String,
      metric: Metric): DataFrame =
    scored.orderBy(rankOrder(metric, col(tieBreak)): _*).limit(k)

  /** Similarity range search: all pairs above/below a threshold. */
  def rangeSearch(scored: DataFrame, threshold: Double,
      metric: Metric): DataFrame =
    if (metric.descending) scored.filter(col("score") >= threshold)
    else scored.filter(col("score") <= threshold)

  /** kNN SELF-join over an IVF-indexed corpus (`leaf_id` present,
    * possibly with spill duplicates): top-k neighbors for EVERY vector
    * among its leaf-mates. The all-pairs form is a cross product; this
    * is the scalable shape — one equi-join on leaf_id (co-located
    * partitions at 100 TB, no global shuffle of pairs), candidates
    * bounded by leaf sizes (the IvfIndex maxLeafSize contract), spill
    * assignment widening recall across leaf boundaries exactly as it
    * does for query-time probes.
    *
    * Score symmetry is exploited: each unordered pair is generated
    * once (qid < nid — candidate generation is symmetric, so nothing
    * is lost), scored, deduplicated, and mirrored back — half the
    * join output and half the dot products of the naive both-ways
    * join, and spill duplicates of a pair (same pair co-located in
    * two shared leaves, ≤2 copies) collapse on 24-byte (qid, nid,
    * score) rows. Deduplicating BEFORE scoring would instead shuffle
    * both vectors (≈16·dim bytes/row) to save a dim-length fused
    * multiply — at embedding dims the dot product is cheaper than the
    * extra shuffle bytes, so the ≤2 spill copies are scored and the
    * tiny scored rows deduplicated.
    */
  /** Symmetric candidate scoring shared by both ranking forms: each
    * unordered leaf-mate pair generated once (qid < nid), scored,
    * spill-deduplicated on the small (qid, nid, score) rows, then
    * mirrored back.
    */
  private def leafPairScores(indexed: DataFrame, id: String,
      vecCol: String, metric: Metric): DataFrame = {
    val a = indexed.select(col("leaf_id"), col(id).as("qid"),
      col(vecCol).as("qv"))
    val b = indexed.select(col("leaf_id"), col(id).as("nid"),
      col(vecCol).as("nv"))
    val half = a.join(b, Seq("leaf_id"))
      .filter(col("qid") < col("nid"))
      .select(col("qid"), col("nid"),
        metric.score(col("qv"), col("nv")).as("score"))
      .dropDuplicates("qid", "nid")
    half.unionByName(half.select(col("nid").as("qid"),
      col("qid").as("nid"), col("score")))
  }

  /** Production form: ranking via the one partial top-k aggregate
    * ([[IvfIndex.top]] grouped by `qid`, a
    * [[graft.functions.TopKCrowded]] with no crowding attribute).
    * MAP-SIDE partial aggregation keeps only k rows per (qid,
    * partition) for the shuffle, where the window form must move every
    * candidate row and sort each qid's full list. On the 50k bench
    * layout (`v_scale_sf1_knn_join`) the map-side form measured
    * 6.8-7.3 s against the window's 16.4-18.0 s, rows identical —
    * PERF.md (round 6).
    *
    * Schema contract, any id type: `(qid, nid)` keep the source id
    * column's type, `score` double, `rn` bigint — the same schema and
    * rows as [[knnJoinPerLeafWindow]].
    */
  def knnJoinPerLeaf(indexed: DataFrame, id: String, vecCol: String,
      k: Int, metric: Metric): DataFrame = {
    // the aggregate keeps (score desc, id asc) — for ascending metrics
    // the score is negated into it and restored on the way out
    def signed(c: Column): Column = if (metric.descending) c else -c
    IvfIndex.top(leafPairScores(indexed, id, vecCol, metric), Seq("qid"),
        "nid", signed(col("score")), lit(k))
      .select(col("qid"), col("nid"), signed(col("score")).as("score"),
        col("rn"))
  }

  /** Window-rank form of [[knnJoinPerLeaf]] (row-identical output),
    * kept as the measured-against baseline.
    */
  def knnJoinPerLeafWindow(indexed: DataFrame, id: String, vecCol: String,
      k: Int, metric: Metric): DataFrame =
    topKPerQuery(leafPairScores(indexed, id, vecCol, metric),
      k, "qid", "nid", metric)

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998) —
    * the diversity post-processor of RAG retrieval: greedily pick k of
    * a query's candidates, each step taking
    * argmax λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s), ties to
    * the smallest id (step 1 is pure relevance). The reference's
    * diversity knob is the crowding TAG — a per-attribute result
    * quota provisioned at index build
    * (/root/reference/vector_store/setup_vector_search.py:65-67,
    * served by [[crowd]]); MMR is its embedding-space sibling for
    * corpora without a crowding attribute.
    *
    * The greedy recurrence is inherently sequential per query, so the
    * Spark shape is flatMapGroups: one task per QUERY, each running
    * the O(k·C) loop over that query's C candidates (C is bounded by
    * the upstream top-C cut — the production contract; candidates,
    * not the corpus, enter the group). Queries parallelize across
    * tasks; a million-query batch is a million independent groups.
    * All arithmetic is forward-sequential IEEE double identical to
    * the DuckDB recursive-CTE oracle (dots accumulate in index order
    * exactly like [[graft.functions.DotProduct]]; the running
    * max-to-selected is an exact max, not a sum).
    *
    * Input columns: query_id, vec_id, v (array<double>), sq (the
    * query·candidate score). Output: (query_id, step 1..k, vec_id,
    * sq) in pick order.
    */
  def mmrRerank(cands: DataFrame, k: Int, lam: Double): DataFrame = {
    val session = cands.sparkSession
    import session.implicits._
    cands.select(col("query_id").cast("bigint"), col("vec_id").cast("bigint"),
        col("v").cast("array<double>"), col("sq").cast("double"))
      .as[(Long, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Array[Double], Double)]) =>
        val cs = it.toArray.sortBy(_._2) // id-ascending: strict > keeps smallest id on ties
        val n = cs.length
        val taken = new Array[Boolean](n)
        val mx = new Array[Double](n) // max sim to selected; valid from step 2
        def dot(a: Array[Double], b: Array[Double]): Double = {
          val m = math.min(a.length, b.length)
          var acc = 0.0; var i = 0
          while (i < m) { acc += a(i) * b(i); i += 1 }
          acc
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        val steps = math.min(k, n)
        var step = 1
        while (step <= steps) {
          var best = -1; var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              val sc = if (step == 1) cs(i)._4
                else lam * cs(i)._4 - (1.0 - lam) * mx(i)
              if (best == -1 || sc > bestScore) { best = i; bestScore = sc }
            }
            i += 1
          }
          taken(best) = true
          out += ((qid, step.toLong, cs(best)._2, cs(best)._4))
          var j = 0
          while (j < n) {
            if (!taken(j)) {
              val d0 = dot(cs(j)._3, cs(best)._3)
              if (step == 1 || d0 > mx(j)) mx(j) = d0
            }
            j += 1
          }
          step += 1
        }
        out.iterator
      }
      .toDF("query_id", "step", "vec_id", "sq")
  }
}
