package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{quantize, vectors}
import org.apache.spark.sql.functions._

/** Int8 quantization coverage: the quantization itself and a fully
  * exact quantized kNN (integer dot products are order-independent in
  * double, so even the ANN-ish compressed path hash-matches).
  */
object QuantizeQueries {

  private val CodesCte =
    "WITH qn AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings), " +
      "mm AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM qn), " +
      "cc AS (SELECT vec_id, ma, list_transform(v, x -> CASE WHEN ma = 0 THEN 0 " +
      "ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes FROM mm)"

  /** Quantization audit: scale, code sum, code fold. */
  private val vQuantize = QueryDef.sqlChecked("v_quantize")(
    s"$CodesCte SELECT vec_id, ma, " +
      "cast(list_reduce(list_prepend(cast(0 as bigint), codes), (a, b) -> a + b) as bigint) AS qsum, " +
      "list_reduce(list_prepend(cast(0 as bigint), " +
      "list_transform(codes, x -> x + 127)), (a, b) -> (a * 31 + b) % 1000000007) AS qhash " +
      "FROM cc ORDER BY vec_id"
  ) { (s, d) =>
    val v = col("embedding").cast("array<double>")
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), v.as("v"))
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("codes", quantize.codes(col("v"), col("ma")))
    base.select(
      col("vec_id"), col("ma"),
      aggregate(col("codes"), lit(0L), (a, b) => a + b).as("qsum"),
      aggregate(transform(col("codes"), x => x + 127), lit(0L),
        (a, b) => (a * 31 + b) % 1000000007L).as("qhash"))
      .orderBy("vec_id")
  }

  /** kNN over quantized codes: integer dot products (exact in double
    * regardless of accumulation order — sums of ints < 2^53).
    */
  private val vKnnQuantized = QueryDef.sqlChecked("v_knn_quantized")(
    s"$CodesCte SELECT e.vec_id AS vec_id, " +
      "list_inner_product(cast(e.codes as double[]), cast(q.codes as double[])) AS iscore " +
      "FROM cc e, cc q WHERE q.vec_id = 0 AND e.vec_id <> 0 " +
      "ORDER BY iscore DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    val v = col("embedding").cast("array<double>")
    val coded = Tables.embeddings(s, d)
      .select(col("vec_id"), v.as("v"))
      .withColumn("ma", quantize.maxAbs(col("v")))
      .select(col("vec_id"), quantize.codes(col("v"), col("ma")).as("codes"))
    val q = coded.filter(col("vec_id") === 0)
      .select(col("codes").as("qcodes"))
    coded.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        vectors.dotProduct(col("codes"), col("qcodes")).as("iscore"))
      .orderBy(col("iscore").desc, col("vec_id"))
      .limit(10)
  }

  /** Fixed PQ codebook rows: 16 spread corpus ids (present at every
    * sf — the embeddings table is 500 rows at all scales).
    */
  private val PqIds: Seq[Long] = (0 until 16).map(c => c * 31L + 5L)

  /** Shared oracle CTEs: codebook (code = id rank), per-(vec, sub)
    * argmin-L2 code assignment with lowest-code tie-break — the exact
    * SQL mirror of ProductQuantizer.encodeExpr.
    */
  private val PqCte =
    s"WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      s"WHERE vec_id IN (${PqIds.mkString(",")})), " +
      "sub AS (SELECT unnest(range(0, 8)) AS s), " +
      "dist AS (SELECT e.vec_id, s.s, cb.c, " +
      "list_distance(cast(e.embedding as double[])[s.s*8+1 : s.s*8+8], " +
      "cv[s.s*8+1 : s.s*8+8]) AS d FROM embeddings e CROSS JOIN sub s CROSS JOIN cb), " +
      "code AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, " +
      "row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn FROM dist) " +
      "WHERE rn = 1)"

  /** Product-quantization encode: 8 subspaces × 16 codes → one packed
    * 32-bit word per vector (64× smaller than the float vector),
    * hash-checked bit-for-bit against the SQL argmin replica.
    */
  private val vPqEncode = QueryDef.sqlChecked("v_pq_encode")(
    s"$PqCte SELECT vec_id, cast(sum(c * (cast(1 as bigint) << (4*s))) as bigint) " +
      "AS pq_code FROM code GROUP BY vec_id ORDER BY vec_id"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cb = graft.operators.ProductQuantizer.codebook(
      emb, "vec_id", "embedding", PqIds)
    emb.select(col("vec_id"),
        graft.operators.ProductQuantizer
          .encodeExpr(col("embedding").cast("array<double>"), cb).as("pq_code"))
      .orderBy("vec_id")
  }

  /** PQ ADC search: the query precomputes an 8×16 partial-dot table;
    * every corpus score is 8 lookups + 7 adds over the packed code —
    * no float vector touched at scan time. Both engines accumulate
    * each partial dot forward and combine the 8 terms in the same
    * left-associative order, so the float scores hash-match.
    */
  private val vPqSearch = QueryDef.sqlChecked("v_pq_search")(
    s"$PqCte, q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "term AS (SELECT code.vec_id, code.s, " +
      "list_inner_product(q.qv[code.s*8+1 : code.s*8+8], " +
      "cb.cv[code.s*8+1 : code.s*8+8]) AS t " +
      "FROM code JOIN cb ON code.c = cb.c CROSS JOIN q), " +
      "piv AS (SELECT vec_id, " +
      (0 until 8).map(i => s"max(CASE WHEN s = $i THEN t END) AS t$i")
        .mkString(", ") +
      " FROM term GROUP BY vec_id) " +
      "SELECT vec_id, t0+t1+t2+t3+t4+t5+t6+t7 AS adc_score FROM piv " +
      "ORDER BY adc_score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cb = graft.operators.ProductQuantizer.codebook(
      emb, "vec_id", "embedding", PqIds)
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    graft.operators.ProductQuantizer
      .search(emb, "vec_id", "embedding", cb, query, 10)
      .select("vec_id", "adc_score")
  }

  /** IVF-PQ — the ScaNN/FAISS serving composition and the closest
    * analog of the reference's whole Tree-AH index (tree walk +
    * asymmetric-hashing scoring core): route the query to nProbe
    * leaves (via the SQL-transparent `graft_ann_probe` rewrite, so at
    * scale the leaf filter is partition pruning on a
    * `partitionBy(leaf_id)` CODE table), then ADC-score ONLY the
    * probed leaves' packed 32-bit codes — a query touches
    * nProbe/numLeaves of a 4 B/vector representation and never reads
    * a float vector. Fixed centroids + fixed codebooks make routing,
    * encoding, and scoring all SQL-replicable, so the composed
    * operator hash-checks end to end.
    */
  private val vIvfPqSearch = QueryDef.sqlChecked("v_ivfpq_search")(
    s"$PqCte, cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "qq AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(qq.qv, c.cv), c.cid) AS rn FROM cent c, qq) WHERE rn <= 2), " +
      "term AS (SELECT code.vec_id, code.s, " +
      "list_inner_product(qq.qv[code.s*8+1 : code.s*8+8], " +
      "cb.cv[code.s*8+1 : code.s*8+8]) AS t " +
      "FROM code JOIN cb ON code.c = cb.c " +
      "JOIN assign a ON code.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid CROSS JOIN qq), " +
      "piv AS (SELECT vec_id, " +
      (0 until 8).map(i => s"max(CASE WHEN s = $i THEN t END) AS t$i")
        .mkString(", ") +
      " FROM term GROUP BY vec_id) " +
      "SELECT vec_id, t0+t1+t2+t3+t4+t5+t6+t7 AS adc_score FROM piv " +
      "ORDER BY adc_score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.operators.{IvfIndex, ProductQuantizer}
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", PqIds)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    graft.plans.IndexCatalog.register("v_ivfpq",
      IvfIndex.Model(cents.toArray))
    // model-geometry assignment (min |c|²−2·x·c, first-min ties) —
    // the same shared expression as v_ann_sql, so probe and
    // assignment agree with SQL by construction
    val coded = emb.withColumn("leaf_id",
        IvfIndex.leafExprMinL2(col("embedding"), cents).cast("bigint"))
      .select(col("vec_id"), col("leaf_id"),
        ProductQuantizer.encodeExpr(
          col("embedding").cast("array<double>"), cb).as("pq_code"))
    coded
      .filter(graft.plans.AnnPruning.probe("v_ivfpq", col("leaf_id"),
        query.toSeq, 2))
      .select(col("vec_id"),
        ProductQuantizer.adcScoreExpr(col("pq_code"),
          ProductQuantizer.adcTable(query, cb)).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(10)
  }

  /** The PQ-coded serving tier made DURABLE and INCREMENTAL — the
    * code-resident index (`v_ivfpq_search`'s shape) as something a
    * serving deployment can actually run: the coded layout is written
    * with BOTH its sidecars (`_graft_model` centroids + `_graft_pq`
    * codebook), reopened from the path alone, and upserts flow
    * through `IndexMaintenance.appendCodedToServing` — assigned to
    * existing leaves with the reloaded model and ENCODED with the
    * reloaded codebook, no corpus access, no refit. The gate's top
    * hit (id 90000, 2·v7 against query v7) did not exist at build
    * time, and the build-time row of id 7 is superseded by a
    * version-2 upsert (−v7): a stale read or a mis-encoded append
    * changes the hash.
    */
  private val rServePq = QueryDef.sqlChecked("r_serve_pq")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "up AS (SELECT 90000 AS vec_id, list_transform(v, x -> 2*x) AS v, 1 AS version " +
      "FROM base WHERE vec_id = 7 " +
      "UNION ALL SELECT 7, list_transform(v, x -> -x), 2 FROM base WHERE vec_id = 7), " +
      "log AS (SELECT * FROM base UNION ALL SELECT * FROM up), " +
      "delta AS (SELECT vec_id, max(version) AS latest FROM up GROUP BY vec_id), " +
      "live AS (SELECT l.vec_id, l.v FROM log l " +
      "LEFT JOIN delta d ON l.vec_id = d.vec_id " +
      "WHERE d.latest IS NULL OR l.version = d.latest), " +
      s"cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      s"WHERE vec_id IN (${PqIds.mkString(",")})), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "sub AS (SELECT unnest(range(0, 8)) AS s), " +
      "dist AS (SELECT l.vec_id, s.s, cb.c, " +
      "list_distance(l.v[s.s*8+1 : s.s*8+8], cv[s.s*8+1 : s.s*8+8]) AS d " +
      "FROM live l CROSS JOIN sub s CROSS JOIN cb), " +
      "code AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, " +
      "row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn FROM dist) " +
      "WHERE rn = 1), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, c.cid, row_number() OVER (PARTITION BY l.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn = 1), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) WHERE rn <= 2), " +
      "term AS (SELECT code.vec_id, code.s, " +
      "list_inner_product(q.qv[code.s*8+1 : code.s*8+8], " +
      "cb.cv[code.s*8+1 : code.s*8+8]) AS t " +
      "FROM code JOIN cb ON code.c = cb.c " +
      "JOIN assign a ON code.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid CROSS JOIN q), " +
      "piv AS (SELECT vec_id, " +
      (0 until 8).map(i => s"max(CASE WHEN s = $i THEN t END) AS t$i")
        .mkString(", ") +
      " FROM term GROUP BY vec_id) " +
      "SELECT vec_id, t0+t1+t2+t3+t4+t5+t6+t7 AS adc_score FROM piv " +
      "ORDER BY adc_score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.operators.{IvfIndex, ProductQuantizer}
    import graft.streaming.IndexMaintenance
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", PqIds)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servepq_" + java.lang.Integer.toHexString(d.hashCode))
    // fresh layout per run: appends are cumulative, and the gate must
    // see exactly build + 1 upsert batch
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    // build-time write: top-1 assignment by the serving geometry
    // (probeExpr take=1 — what appendCodedToServing's spill=1 uses),
    // raw vectors dropped, codes + BOTH sidecars persisted
    val coded = base
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v")
    IvfIndex.write(coded, servePath.toString, model)
    ProductQuantizer.writeCodebook(s, servePath.toString, cb)

    // upserts AFTER the build, through the coded serving path: model
    // AND codebook are reloaded from the layout's own sidecars
    val b1 = base.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(90000L))
      .withColumn("v", transform(col("v"), x => x * 2))
      .unionByName(base.filter(col("vec_id") === 7)
        .withColumn("v", transform(col("v"), x => -x))
        .withColumn("version", lit(2)))
    IndexMaintenance.appendCodedToServing(s, servePath.toString, b1,
      "vec_id", "v", "version")

    // serve: open from disk, probe 2 leaves in SQL-rewrite form, LWW
    // via the delta, ADC-score the STORED codes with the RELOADED
    // codebook — no float corpus vector touched
    val cb2 = ProductQuantizer.loadCodebook(s, servePath.toString)
    graft.plans.IndexCatalog.drop("r_serve_pq")
    graft.plans.IndexCatalog.open(s, "r_serve_pq", servePath.toString)
    IndexMaintenance.readServing(s, servePath.toString, "vec_id", "version")
      .filter(graft.plans.AnnPruning.probe("r_serve_pq",
        col("leaf_id"), query.toSeq, 2))
      .select(col("vec_id"),
        ProductQuantizer.adcScoreExpr(col("pq_code"),
          ProductQuantizer.adcTable(query, cb2)).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(10)
  }

  /** SQ8 SERVING TIER — the middle rung of the coded ladder (raw
    * 256 B → SQ8 ≈66 B → PQ 4 B per vector at dim 64): build writes
    * 1-byte-per-dim PACKED codes ([[graft.functions.PackInt8]]) plus
    * one per-row scale and NO trained artifact (the scale is the
    * row's own max |vᵢ|), so appends
    * ([[graft.streaming.IndexMaintenance.appendSqToServing]]) need
    * only the IVF model sidecar and can never drift from a stale
    * codebook. The serve pass is: reopen from the path alone → LWW
    * against the delta registry → probe-2 SQL-rewrite leaf pruning →
    * EXACT integer dot over packed bytes ([[graft.functions.SqDot]])
    * rescaled by the two scales. Everything is bit-deterministic, so
    * unlike most ANN tiers the whole thing hash-gates: the oracle
    * re-derives quantization, LWW, assignment, probes, and the
    * integer rescore from the raw tables.
    */
  private val rServeSq = QueryDef.sqlChecked("r_serve_sq")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "up AS (SELECT 90000 AS vec_id, list_transform(v, x -> 2*x) AS v, 1 AS version " +
      "FROM base WHERE vec_id = 7 " +
      "UNION ALL SELECT 7, list_transform(v, x -> -x), 2 FROM base WHERE vec_id = 7), " +
      "log AS (SELECT * FROM base UNION ALL SELECT * FROM up), " +
      "delta AS (SELECT vec_id, max(version) AS latest FROM up GROUP BY vec_id), " +
      "live AS (SELECT l.vec_id, l.v FROM log l " +
      "LEFT JOIN delta d ON l.vec_id = d.vec_id " +
      "WHERE d.latest IS NULL OR l.version = d.latest), " +
      "qc0 AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "ecodes AS (SELECT vec_id, v, ma, list_transform(v, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM live)), " +
      "qcodes AS (SELECT ma, list_transform(qv, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS ma FROM qc0)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, c.cid, row_number() OVER (PARTITION BY l.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM live l, cent c) WHERE rn = 1), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, qc0 q) " +
      "WHERE rn <= 2) " +
      "SELECT e.vec_id, " +
      "list_inner_product(cast(e.codes as double[]), cast(q.codes as double[])) * " +
      "(e.ma * q.ma / 16129.0) AS sq_score " +
      "FROM ecodes e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid CROSS JOIN qcodes q " +
      "ORDER BY sq_score DESC, e.vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.operators.IvfIndex
    import graft.streaming.IndexMaintenance
    import graft.functions.quantize
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray
    val (qMa, qPacked) = quantize.packLocal(query)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servesq_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val v = col("v")
    val sq = base
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, v, 1)))
      .withColumn("ma", quantize.maxAbs(v))
      .withColumn("sq_code", quantize.packCodes(quantize.codes(v, col("ma"))))
      .drop("v")
    IvfIndex.write(sq, servePath.toString, model)

    val b1 = base.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(90000L))
      .withColumn("v", transform(col("v"), x => x * 2))
      .unionByName(base.filter(col("vec_id") === 7)
        .withColumn("v", transform(col("v"), x => -x))
        .withColumn("version", lit(2)))
    IndexMaintenance.appendSqToServing(s, servePath.toString, b1,
      "vec_id", "v", "version")

    graft.plans.IndexCatalog.drop("r_serve_sq")
    graft.plans.IndexCatalog.open(s, "r_serve_sq", servePath.toString)
    IndexMaintenance.readServing(s, servePath.toString, "vec_id", "version")
      .filter(graft.plans.AnnPruning.probe("r_serve_sq",
        col("leaf_id"), query.toSeq, 2))
      .select(col("vec_id"),
        quantize.score(
          quantize.packedDot(col("sq_code"), lit(qPacked)),
          col("ma"), lit(qMa)).as("sq_score"))
      .orderBy(col("sq_score").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF-PQ with an exact re-rank — the full two-stage serving shape
    * (ScaNN's "score-then-rescore", FAISS's IndexRefineFlat): the ADC
    * pass over the probed leaves picks a deterministic top-30
    * shortlist (adc_score DESC, vec_id — a total order), and ONLY
    * those 30 rows are re-scored with the exact float dot product for
    * the final top-10. At scale this is the shape that buys PQ's 64×
    * compression without paying its quantization error in the final
    * ranking: the scan stage touches 4 B/vector codes in nProbe
    * leaves, and the expensive exact arithmetic runs on a
    * constant-size (shortlist × d) set — the shortlist join is a
    * broadcast, never a shuffle of the corpus. Hash-gated end to end:
    * the ADC stage reuses `v_ivfpq_search`'s replica and the rescore
    * reuses the bit-exact forward-accumulating dot (`v_knn_dot`), so
    * the composed result hash-matches too.
    */
  private val vIvfPqRerank = QueryDef.sqlChecked("v_ivfpq_rerank")(
    s"$PqCte, cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "qq AS (SELECT cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id = 7), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(cast(e.embedding as double[]), c.cv), c.cid) AS rn " +
      "FROM embeddings e, cent c) WHERE rn = 1), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(qq.qv, c.cv), c.cid) AS rn FROM cent c, qq) WHERE rn <= 2), " +
      "term AS (SELECT code.vec_id, code.s, " +
      "list_inner_product(qq.qv[code.s*8+1 : code.s*8+8], " +
      "cb.cv[code.s*8+1 : code.s*8+8]) AS t " +
      "FROM code JOIN cb ON code.c = cb.c " +
      "JOIN assign a ON code.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid CROSS JOIN qq), " +
      "piv AS (SELECT vec_id, " +
      (0 until 8).map(i => s"max(CASE WHEN s = $i THEN t END) AS t$i")
        .mkString(", ") +
      " FROM term GROUP BY vec_id), " +
      "short AS (SELECT vec_id FROM (SELECT vec_id, " +
      "t0+t1+t2+t3+t4+t5+t6+t7 AS adc_score FROM piv) " +
      "ORDER BY adc_score DESC, vec_id LIMIT 30) " +
      "SELECT e.vec_id AS vec_id, " +
      "list_inner_product(cast(e.embedding as double[]), qq.qv) AS score " +
      "FROM embeddings e JOIN short ON e.vec_id = short.vec_id CROSS JOIN qq " +
      "ORDER BY score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.operators.{IvfIndex, ProductQuantizer}
    graft.plans.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", PqIds)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    graft.plans.IndexCatalog.register("v_ivfpq_rr",
      IvfIndex.Model(cents.toArray))
    val coded = emb.withColumn("leaf_id",
        IvfIndex.leafExprMinL2(col("embedding"), cents).cast("bigint"))
      .select(col("vec_id"), col("leaf_id"),
        ProductQuantizer.encodeExpr(
          col("embedding").cast("array<double>"), cb).as("pq_code"))
    val shortlist = coded
      .filter(graft.plans.AnnPruning.probe("v_ivfpq_rr", col("leaf_id"),
        query.toSeq, 2))
      .select(col("vec_id"),
        ProductQuantizer.adcScoreExpr(col("pq_code"),
          ProductQuantizer.adcTable(query, cb)).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(30)
      .select("vec_id")
    emb.join(broadcast(shortlist), Seq("vec_id"))
      .select(col("vec_id"),
        vectors.dotProduct(col("embedding").cast("array<double>"),
          array(query.map(lit): _*)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  /** BATCHED ADC — the coded-tier form of batched serving: a query
    * FRAME (not one literal) broadcasts over the persisted code
    * table, every (code, query) pair scores through
    * [[graft.operators.AdcDirect]] (8 forward sub-dots against the
    * referenced codebook — no per-query literal table, which a batch
    * cannot bake into the plan), and the per-query top-5 is a window
    * rank. The expression accumulates subspaces in ascending order,
    * so its doubles are bit-identical to the single-query table path
    * AND the oracle's t0+…+t7 — the whole batch hash-checks. Scan
    * side reads 4 B/row; at a 10⁶-query batch over a 10⁹-row corpus
    * that byte ratio, not the arithmetic, is the cost.
    */
  private val vPqBatch = QueryDef.sqlChecked("v_pq_batch")(
    s"$PqCte, q4 AS (SELECT vec_id AS query_id, " +
      "cast(embedding as double[]) AS qv FROM embeddings WHERE vec_id < 4), " +
      "term AS (SELECT q4.query_id, code.vec_id, code.s, " +
      "list_inner_product(q4.qv[code.s*8+1 : code.s*8+8], " +
      "cb.cv[code.s*8+1 : code.s*8+8]) AS t " +
      "FROM code JOIN cb ON code.c = cb.c CROSS JOIN q4), " +
      "piv AS (SELECT query_id, vec_id, " +
      (0 until 8).map(i => s"max(CASE WHEN s = $i THEN t END) AS t$i")
        .mkString(", ") +
      " FROM term GROUP BY query_id, vec_id) " +
      "SELECT query_id, vec_id, adc_score, rn FROM (" +
      "SELECT query_id, vec_id, t0+t1+t2+t3+t4+t5+t6+t7 AS adc_score, " +
      "row_number() OVER (PARTITION BY query_id " +
      "ORDER BY t0+t1+t2+t3+t4+t5+t6+t7 DESC, vec_id) AS rn FROM piv) " +
      "WHERE rn <= 5 ORDER BY query_id, rn"
  ) { (s, d) =>
    import graft.operators.ProductQuantizer
    val emb = Tables.embeddings(s, d)
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", PqIds)
    val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    ProductQuantizer.searchCodesBatch(codes, "vec_id", cb,
        queries, "query_id", "qv", 5)
      .orderBy("query_id", "rn")
  }

  /** ROTATED PQ (the OPQ serving shape with a FIXED rotation so the
    * whole pipeline stays SQL-replicable): rotate → encode → ADC,
    * where the rotation is the reversal permutation — orthogonal,
    * exactly `list_reverse` in the oracle, and bit-exact through the
    * engine's `rotateExpr` (one-hot dot products select components
    * exactly). Codebook rows and the query rotate with the data, so
    * this gate pins every joint the LEARNED rotation
    * ([[graft.operators.ProductQuantizer.trainOpq]], OpqSpec) plugs
    * into: a wrong basis orientation, a codebook in the wrong space,
    * or an unrotated query all change the codes and fail the hash.
    */
  private val vPqRotated = QueryDef.sqlChecked("v_pq_rotated")(
    s"WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, " +
      "list_reverse(cast(embedding as double[])) AS cv FROM embeddings " +
      s"WHERE vec_id IN (${PqIds.mkString(",")})), " +
      "sub AS (SELECT unnest(range(0, 8)) AS s), " +
      "dist AS (SELECT e.vec_id, s.s, cb.c, " +
      "list_distance(list_reverse(cast(e.embedding as double[]))[s.s*8+1 : s.s*8+8], " +
      "cv[s.s*8+1 : s.s*8+8]) AS d FROM embeddings e CROSS JOIN sub s CROSS JOIN cb), " +
      "code AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, " +
      "row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn FROM dist) " +
      "WHERE rn = 1), " +
      "q AS (SELECT list_reverse(cast(embedding as double[])) AS qv " +
      "FROM embeddings WHERE vec_id = 7), " +
      "term AS (SELECT code.vec_id, code.s, " +
      "list_inner_product(q.qv[code.s*8+1 : code.s*8+8], " +
      "cb.cv[code.s*8+1 : code.s*8+8]) AS t " +
      "FROM code JOIN cb ON code.c = cb.c CROSS JOIN q), " +
      "piv AS (SELECT vec_id, " +
      (0 until 8).map(i => s"max(CASE WHEN s = $i THEN t END) AS t$i")
        .mkString(", ") +
      " FROM term GROUP BY vec_id) " +
      "SELECT vec_id, t0+t1+t2+t3+t4+t5+t6+t7 AS adc_score FROM piv " +
      "ORDER BY adc_score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.operators.ProductQuantizer
    val emb = Tables.embeddings(s, d)
    val dim = ProductQuantizer.NumSub * ProductQuantizer.SubDim
    // reversal permutation as an orthonormal basis
    val basis = Array.tabulate(dim)(j =>
      Array.tabulate(dim)(i => if (i == dim - 1 - j) 1.0 else 0.0))
    val cbRot = ProductQuantizer.codebook(emb, "vec_id", "embedding", PqIds)
      .map(ProductQuantizer.rotate(_, basis))
    val codes = emb.select(col("vec_id"),
      ProductQuantizer.encodeExpr(
        ProductQuantizer.rotateExpr(
          col("embedding").cast("array<double>"), basis), cbRot)
        .as("pq_code"))
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    ProductQuantizer.searchCodes(codes, "vec_id", cbRot,
        ProductQuantizer.rotate(query, basis), 10)
      .select("vec_id", "adc_score")
  }

  /** SQ-layout cache for the full-shape gate: build once per JVM per
    * sf dir (the lifecycle — quantized append, LWW — has its own gate
    * `r_serve_sq`; this one gates the QUERY shape).
    */
  private object SqFullCache {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def get(s: org.apache.spark.sql.SparkSession, d: String,
        model: graft.operators.IvfIndex.Model): String =
      cache.getOrElseUpdate(d, {
        val v = col("embedding").cast("array<double>")
        val sq = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), v.as("v"))
          .withColumn("leaf_id",
            explode(graft.operators.IvfIndex.probeExpr(model, col("v"), 1)))
          .withColumn("ma", quantize.maxAbs(col("v")))
          .withColumn("sq_code",
            quantize.packCodes(quantize.codes(col("v"), col("ma"))))
          .drop("v")
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_sqfull_" +
          java.lang.Integer.toHexString(d.hashCode)
        graft.operators.IvfIndex.write(sq, path, model)
        path
      })
  }

  /** The FULL serving shape on the SQ8 tier — restricts + crowding +
    * metadata on the BATCHED packed-byte kernel
    * ([[graft.operators.Serving.searchBatchSq]]): the reference
    * provisions restricts and crowding per datapoint regardless of
    * how the deployed index stores vectors
    * (setup_vector_search.py:45-76), so the coded tiers serve the
    * same shape as the raw path — the tier changes the scan kernel,
    * never the serving semantics. Three queries in one routed plan:
    * In-list pre-pruned probe-2 scan, per-row batch restrict
    * (vec_id ≥ 10) pushed to the scan, exact integer dot over packed
    * codes rescaled by the two scales, crowding 2-per-label per
    * query, per-query top-5, metadata re-attach. Everything is
    * bit-deterministic (SQ8 has no trained artifact), so the whole
    * shape hash-gates — the oracle re-derives quantization,
    * assignment, probes, the integer rescore, crowding, and the
    * ranked metadata join from the raw tables.
    */
  private val rServeSqFull = QueryDef.sqlChecked("r_serve_sq_full")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (7,21,33)), " +
      "ecodes AS (SELECT vec_id, label, v, ma, list_transform(v, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT vec_id, label, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM base)), " +
      "qcodes AS (SELECT qid, ma AS qma, list_transform(qv, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT qid, qv, list_max(list_transform(qv, x -> abs(x))) AS ma FROM q)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT p.qid, e.vec_id, e.label, " +
      "list_inner_product(cast(e.codes as double[]), cast(qc.codes as double[])) * " +
      "(e.ma * qc.qma / 16129.0) AS score " +
      "FROM ecodes e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN qcodes qc ON qc.qid = p.qid " +
      "WHERE e.vec_id >= 10), " +
      "crowded AS (SELECT qid, vec_id, label, score FROM (" +
      "SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid, label ORDER BY score DESC, vec_id) AS crn " +
      "FROM cand) WHERE crn <= 2), " +
      "ranked AS (SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM crowded) " +
      "SELECT qid, vec_id, label, score AS sq_score, cast(rn as bigint) AS rn " +
      "FROM ranked WHERE rn <= 5 ORDER BY qid, rn"
  ) { (s, d) =>
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val path = SqFullCache.get(s, d, model)
    val serving = graft.operators.Serving.open(s, path)
    val queries = emb.filter(col("vec_id").isin(7L, 21L, 33L))
      .select(col("vec_id").as("qid"), col("embedding"))
    serving.searchBatchSq(queries, "qid", "embedding", nProbe = 2, k = 5,
      restricts = Seq(col("vec_id") >= 10),
      crowding = Some(("label", 2)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")))
  }

  /** PER-QUERY restricts, k, AND crowding cap on the SQ8 TIER — the
    * multi-tenant batch of `r_serve_restricts`/`r_serve_perquery` over
    * a CODED layout ([[graft.operators.Serving.searchBatchSq]] with
    * `allowCol`/`kCol`/`capCol`): the reference's per-request
    * find_neighbors knobs don't know how the deployed index stores
    * vectors, so the quantized tier serves the identical per-query
    * surface — allow-maps validated in-plan and evaluated per
    * (candidate, query) pair inside the candidate join, per-query
    * k/cap applied as least(global, per-query) in the shared dynamic
    * tail. Three tenants in ONE routed plan over packed byte codes:
    * qid 7 allows labels {3,7} and wants 2 hits with hard diversity
    * (cap 1); qid 21 allows {1}, 3 hits, cap 2; qid 33 is
    * unrestricted (NULL map), 5 hits, cap 3. Everything is
    * bit-deterministic (SQ8 has no trained artifact), so the whole
    * shape hash-gates — the oracle re-derives quantization,
    * assignment, probes, the integer rescore, the per-query allow +
    * crowd + rank, and the metadata join from the raw tables.
    */
  private val rServeSqPerQuery = QueryDef.sqlChecked("r_serve_sq_perquery")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (7,21,33)), " +
      "lim AS (SELECT * FROM (VALUES (7, 2, 1), (21, 3, 2), (33, 5, 3)) " +
      "AS t(qid, kq, capq)), " +
      "ecodes AS (SELECT vec_id, label, v, ma, list_transform(v, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT vec_id, label, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM base)), " +
      "qcodes AS (SELECT qid, ma AS qma, list_transform(qv, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT qid, qv, list_max(list_transform(qv, x -> abs(x))) AS ma FROM q)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT p.qid, e.vec_id, e.label, " +
      "list_inner_product(cast(e.codes as double[]), cast(qc.codes as double[])) * " +
      "(e.ma * qc.qma / 16129.0) AS score " +
      "FROM ecodes e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid JOIN qcodes qc ON qc.qid = p.qid " +
      "WHERE e.vec_id >= 10 AND (" +
      "(p.qid = 7 AND cast(e.label as varchar) IN ('3','7')) OR " +
      "(p.qid = 21 AND cast(e.label as varchar) IN ('1')) OR " +
      "p.qid = 33)), " +
      "crowded AS (SELECT c.qid, c.vec_id, c.label, c.score FROM (" +
      "SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid, label ORDER BY score DESC, vec_id) AS crn " +
      "FROM cand) c JOIN lim ON lim.qid = c.qid WHERE c.crn <= lim.capq), " +
      "ranked AS (SELECT c.qid, c.vec_id, c.label, c.score, c.rn FROM (" +
      "SELECT qid, vec_id, label, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM crowded) c " +
      "JOIN lim ON lim.qid = c.qid WHERE c.rn <= lim.kq) " +
      "SELECT qid, vec_id, label, score AS sq_score, cast(rn as bigint) AS rn " +
      "FROM ranked ORDER BY qid, rn"
  ) { (s, d) =>
    import s.implicits._
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val path = SqFullCache.get(s, d, model)
    val serving = graft.operators.Serving.open(s, path)
    val lims = Seq(
      (7L, Some(Map("label" -> Seq("3", "7"))), 2, 1),
      (21L, Some(Map("label" -> Seq("1"))), 3, 2),
      (33L, None: Option[Map[String, Seq[String]]], 5, 3),
    ).toDF("qid", "allow", "kq", "capq")
    val queries = emb.filter(col("vec_id").isin(7L, 21L, 33L))
      .select(col("vec_id").as("qid"), col("embedding"))
      .join(lims, "qid")
    serving.searchBatchSq(queries, "qid", "embedding", nProbe = 2, k = 5,
      restricts = Seq(col("vec_id") >= 10),
      crowding = Some(("label", 3)),
      metadata = Some((emb.select("vec_id", "label"), "vec_id")),
      allowCol = Some("allow"), attrs = Seq("label"),
      kCol = Some("kq"), capCol = Some("capq"))
  }

  /** MaxSim LATE INTERACTION on the SQ8 TIER
    * ([[graft.operators.Serving.searchMaxSim]] on an SQ8 layout, which
    * scores with the tier's own kernel) — the ColBERT
    * operator served from packed byte codes at the 1/4 footprint:
    * score(doc) = Σ_q max over the doc's rows of the QUANTIZED dot
    * (exact integer arithmetic rescaled by the two scales), over the
    * IVF-pruned union of every query vector's probed leaves. Unlike
    * the raw tier's float dot, every term here is bit-deterministic
    * (integer dot + one float rescale + exact-decimal doc sum), so
    * the whole operator hash-gates: the oracle re-derives
    * quantization, assignment, the probed union, the per-(doc, qvec)
    * max, and the decimal sum from the raw tables.
    */
  private val vMaxsimSq = QueryDef.sqlChecked("v_maxsim_sq")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,1,2)), " +
      "ecodes AS (SELECT vec_id, label, v, ma, list_transform(v, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT vec_id, label, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM base)), " +
      "qcodes AS (SELECT qid, ma AS qma, list_transform(qv, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT qid, qv, list_max(list_transform(qv, x -> abs(x))) AS ma FROM q)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "probe AS (SELECT DISTINCT cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "per AS (SELECT e.label, qc.qid, " +
      "max(list_inner_product(cast(e.codes as double[]), cast(qc.codes as double[])) * " +
      "(e.ma * qc.qma / 16129.0)) AS best " +
      "FROM ecodes e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid, qcodes qc " +
      "GROUP BY e.label, qc.qid) " +
      "SELECT label, " + graft.Exact.sqlDsum("best", 12) + " AS score " +
      "FROM per GROUP BY label ORDER BY score DESC, label LIMIT 5"
  ) { (s, d) =>
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(s, d)
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val path = SqFullCache.get(s, d, model)
    val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    graft.operators.Serving.open(s, path)
      .searchMaxSim(qvecs, nProbe = 2, k = 5, docCol = "label")
  }

  /** SELECTIVITY-ADAPTIVE PER-QUERY restricts on the SQ8 TIER
    * ([[graft.operators.Serving.searchBatchSqAdaptive]]) — the
    * filtered-ANN recall escape on a CODED layout: the storage tier
    * changes the scan kernel, never the adaptive semantics. Planted
    * rows: negated vectors quantized and appended at version 2
    * (`appendSqToServing`), `version` stats promoted. One batch, two
    * tenants: qid 0 allows version {2} — file stats prove only the
    * appended file can qualify, so its query leaves the routed batch
    * and runs the EXACT packed-code scan (integer dot, full recall
    * over the planted rows the probed plan provably misses); qid 21
    * allows version {1} — every build file qualifies, provably
    * unselective, rides the probed SQ plan. Gate REQUIREs both
    * per-map decisions; every score is bit-deterministic (integer
    * dot + one rescale), so the union hash-gates against the full
    * quantization + routing + LWW replica.
    */
  private val rServeSqPAdaptive = QueryDef.sqlChecked("r_serve_sq_padaptive")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "b1 AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> -x) AS v, 2 AS version FROM base " +
      "WHERE vec_id % 30 = 7), " +
      "live AS (SELECT * FROM base UNION ALL SELECT * FROM b1), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,21)), " +
      "ecodes AS (SELECT vec_id, version, ma, list_transform(v, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT vec_id, version, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM live)), " +
      "qcodes AS (SELECT qid, ma AS qma, list_transform(qv, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT qid, qv, list_max(list_transform(qv, x -> abs(x))) AS ma FROM q)), " +
      "ex AS (SELECT qc.qid, e.vec_id, " +
      "list_inner_product(cast(e.codes as double[]), cast(qc.codes as double[])) * " +
      "(e.ma * qc.qma / 16129.0) AS score " +
      "FROM ecodes e JOIN qcodes qc ON qc.qid = 0 WHERE e.version = 2), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2 AND qid = 21), " +
      "pr AS (SELECT p.qid, e.vec_id, " +
      "max(list_inner_product(cast(e.codes as double[]), cast(qc.codes as double[])) * " +
      "(e.ma * qc.qma / 16129.0)) AS score " +
      "FROM ecodes e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid " +
      "JOIN qcodes qc ON qc.qid = p.qid " +
      "WHERE e.version = 1 GROUP BY p.qid, e.vec_id), " +
      "allc AS (SELECT * FROM ex UNION ALL SELECT * FROM pr), " +
      "ranked AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM allc) " +
      "SELECT qid, vec_id, score AS sq_score, cast(rn as bigint) AS rn " +
      "FROM ranked WHERE rn <= 10 ORDER BY qid, rn"
  ) { (s, d) =>
    import s.implicits._
    import graft.operators.{IvfIndex, ServingManifest}
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)

    // deterministic build+promote+append fixture: cached per JVM
    // (the gate measures the SQ-tier adaptive SEARCH surface)
    val servePath = ReferencePipeline.AdaptiveLayoutCache.get(s, d,
        "sqpadapt") { path =>
      val sq = base
        .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
        .withColumn("ma", quantize.maxAbs(col("v")))
        .withColumn("sq_code",
          quantize.packCodes(quantize.codes(col("v"), col("ma"))))
        .drop("v")
      IvfIndex.write(sq, path, model)
      ServingManifest.promote(s, path, Seq("version"))
      val planted = base.filter(col("vec_id") % 30 === 7)
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("v", transform(col("v"), x => -x))
        .withColumn("version", lit(2L))
      IndexMaintenance.appendSqToServing(s, path, planted,
        "vec_id", "v", "version")
    }

    val serving = graft.operators.Serving.open(s, servePath)
    require(serving.perQueryAdaptivePlan(Map("version" -> Seq("2")), 0.35),
      "r_serve_sq_padaptive: the version=2 map must pick the exact plan")
    require(!serving.perQueryAdaptivePlan(Map("version" -> Seq("1")), 0.35),
      "r_serve_sq_padaptive: the version=1 map must stay probed")
    val allows = Seq(
      (0L, Map("version" -> Seq("2"))),
      (21L, Map("version" -> Seq("1")))).toDF("qid", "allow")
    val queries = base.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(allows, "qid")
    serving.searchBatchSqAdaptive(queries, "qid", "v", "allow",
      Seq("version"), nProbe = 2, k = 10, maxExactFraction = 0.35)
  }

  /** PER-QUERY NUMERIC restricts on the SQ8 TIER, adaptive — the
    * coded-ladder form of `r_serve_numr` (the reference's
    * `numeric_restricts` filter per request regardless of how the
    * deployed index stores vectors — the tier changes the scan
    * kernel, never the serving shape): each query row of one batch
    * carries its own `(attr, op, v)` set, the per-distinct-set
    * escape decision runs against the manifest's file stats with the
    * typed comparisons pushed, and the exact side scans packed codes
    * with the integer-dot kernel. Two tenants: qid 0's RANGE set
    * (version GE 2.0) keeps only the appended file — REQUIREd to
    * escape, full recall over planted rows the probed plan misses;
    * qid 21's EQ set (version EQ 1.0, every build file) — REQUIREd
    * to stay probed. Scores are bit-deterministic (integer dot + one
    * rescale), so the union hash-gates end to end.
    */
  private val rServeSqNumR = QueryDef.sqlChecked("r_serve_sq_numr")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, 1 AS version " +
      "FROM embeddings), " +
      "b1 AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> -x) AS v, 2 AS version FROM base " +
      "WHERE vec_id % 30 = 7), " +
      "live AS (SELECT * FROM base UNION ALL SELECT * FROM b1), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,21)), " +
      "ecodes AS (SELECT vec_id, version, ma, list_transform(v, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT vec_id, version, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM live)), " +
      "qcodes AS (SELECT qid, ma AS qma, list_transform(qv, x -> " +
      "CASE WHEN ma = 0 THEN 0 ELSE cast(floor(x * (127.0 / ma) + 0.5) as bigint) END) AS codes " +
      "FROM (SELECT qid, qv, list_max(list_transform(qv, x -> abs(x))) AS ma FROM q)), " +
      // qid 0's exact escape: version >= 2.0 as doubles keeps exactly
      // the appended rows; every (qualifying row, query) pair scores
      "ex AS (SELECT qc.qid, e.vec_id, " +
      "list_inner_product(cast(e.codes as double[]), cast(qc.codes as double[])) * " +
      "(e.ma * qc.qma / 16129.0) AS score " +
      "FROM ecodes e JOIN qcodes qc ON qc.qid = 0 " +
      "WHERE cast(e.version as double) >= 2.0), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2 AND qid = 21), " +
      // qid 21's probed plan: version EQ 1.0 as doubles per
      // candidate pair — only build rows qualify
      "pr AS (SELECT p.qid, e.vec_id, " +
      "max(list_inner_product(cast(e.codes as double[]), cast(qc.codes as double[])) * " +
      "(e.ma * qc.qma / 16129.0)) AS score " +
      "FROM ecodes e JOIN assign a ON e.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid " +
      "JOIN qcodes qc ON qc.qid = p.qid " +
      "WHERE cast(e.version as double) = 1.0 GROUP BY p.qid, e.vec_id), " +
      "allc AS (SELECT * FROM ex UNION ALL SELECT * FROM pr), " +
      "ranked AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM allc) " +
      "SELECT qid, vec_id, score AS sq_score, cast(rn as bigint) AS rn " +
      "FROM ranked WHERE rn <= 10 ORDER BY qid, rn"
  ) { (s, d) =>
    import s.implicits._
    import graft.operators.{IvfIndex, ServingManifest}
    import graft.streaming.IndexMaintenance
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)

    // deterministic build+promote+append fixture: cached per JVM —
    // identical to the sqpadapt layout, so the two SQ adaptive gates
    // share one build
    val servePath = ReferencePipeline.AdaptiveLayoutCache.get(s, d,
        "sqpadapt") { path =>
      val sq = base
        .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
        .withColumn("ma", quantize.maxAbs(col("v")))
        .withColumn("sq_code",
          quantize.packCodes(quantize.codes(col("v"), col("ma"))))
        .drop("v")
      IvfIndex.write(sq, path, model)
      ServingManifest.promote(s, path, Seq("version"))
      val planted = base.filter(col("vec_id") % 30 === 7)
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("v", transform(col("v"), x => -x))
        .withColumn("version", lit(2L))
      IndexMaintenance.appendSqToServing(s, path, planted,
        "vec_id", "v", "version")
    }

    val serving = graft.operators.Serving.open(s, servePath)
    require(serving.perQueryAdaptivePlanNum(Map.empty,
      Seq(("version", "GE", 2.0)), 0.35),
      "r_serve_sq_numr: the GE-2 set must pick the exact plan")
    require(!serving.perQueryAdaptivePlanNum(Map.empty,
      Seq(("version", "EQ", 1.0)), 0.35),
      "r_serve_sq_numr: the EQ-1 set (every build file) must stay probed")
    val tenants = Seq(
      (0L, Seq(("version", "GE", 2.0))),
      (21L, Seq(("version", "EQ", 1.0))))
      .toDF("qid", "num")
      .withColumn("num", expr("transform(num, r -> " +
        "named_struct('attr', r._1, 'op', r._2, 'v', r._3))"))
      .withColumn("allow",
        lit(null).cast("map<string,array<string>>"))
    val queries = base.filter(col("vec_id").isin(0L, 21L))
      .select(col("vec_id").as("qid"), col("v")).join(tenants, "qid")
    serving.searchBatchSqAdaptive(queries, "qid", "v", "allow",
      Seq.empty, nProbe = 2, k = 10, maxExactFraction = 0.35,
      numCol = Some("num"), numAttrs = Seq("version"))
  }

  /** BINARY (1-bit) quantization search — the shortlist rung below
    * PQ on the coded ladder (raw 256 B → SQ8 66 B → PQ 4 B → BQ
    * 8 B of sign bits… at 64 dims BQ and PQ meet, but BQ needs NO
    * trained artifact at all): corpus rows binarize through the
    * codegen [[graft.functions.PackSign]] expression, the query
    * stays FLOAT, and every (row, query) pair scores the asymmetric
    * sign-dot ⟨sign(x), q⟩ ([[graft.functions.BqDot]] — fixed
    * ascending summation of exactly ±qⱼ terms, so the doubles are
    * bit-identical to the oracle's inner product over ±1 vectors).
    * Top-10 by score desc, id asc; FULL hash oracle.
    */
  private val vBqSearch = QueryDef.sqlChecked("v_bq_search")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 7) " +
      "SELECT vec_id, list_inner_product(list_transform(v, x -> " +
      "CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END), q.qv) AS bq_score " +
      "FROM base, q ORDER BY bq_score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.functions.bquant
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    emb.select(col("vec_id"),
        bquant.signDot(bquant.packSigns(col("embedding")),
          typedLit(q)).as("bq_score"))
      .orderBy(col("bq_score").desc, col("vec_id"))
      .limit(10)
  }

  /** BQ SHORTLIST-THEN-RESCORE — the production two-stage shape
    * (`v_ivfpq_rerank`'s sibling at the 8 B tier): the 8 B/vector
    * sign-bit scan ranks a deterministic top-30 shortlist, the 30
    * survivors join back to their raw vectors (a broadcast join of a
    * constant-size set), and the final top-10 is the EXACT float
    * dot — a 32× scan-byte reduction with exact final ranking.
    * FULL hash oracle.
    */
  private val vBqRerank = QueryDef.sqlChecked("v_bq_rerank")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 7), " +
      "scored AS (SELECT vec_id, list_inner_product(list_transform(v, x -> " +
      "CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END), q.qv) AS bq FROM base, q), " +
      "sl AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (" +
      "ORDER BY bq DESC, vec_id) AS rn FROM scored) WHERE rn <= 30) " +
      "SELECT b.vec_id, list_inner_product(b.v, q.qv) AS score " +
      "FROM base b JOIN sl ON b.vec_id = sl.vec_id, q " +
      "ORDER BY score DESC, b.vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.functions.bquant
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val shortlist = emb.select(col("vec_id"),
        bquant.signDot(bquant.packSigns(col("embedding")),
          typedLit(q)).as("bq"))
      .orderBy(col("bq").desc, col("vec_id"))
      .limit(30)
    emb.join(broadcast(shortlist.select("vec_id")), "vec_id")
      .select(col("vec_id"),
        graft.functions.vectors.dotProduct(
          col("embedding").cast("array<double>"), typedLit(q)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  /** BQ HAMMING neighbors — the symmetric code-to-code distance
    * (near-dup / clustering over sign codes): popcount(a XOR b)
    * through the codegen [[graft.functions.BqHamming]], the query's
    * own buffer packed once on the driver. The oracle uses the
    * identity h = (d − ⟨sign(x), sign(y)⟩)/2 — both sides exact
    * small integers, so the whole ranking hash-gates. Top-10 by
    * distance asc, id asc (the query's own row at distance 0).
    */
  private val vBqHamming = QueryDef.sqlChecked("v_bq_hamming")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 7) " +
      "SELECT vec_id, cast((64 - list_inner_product(" +
      "list_transform(v, x -> CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END), " +
      "list_transform(q.qv, x -> CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END)" +
      ")) / 2 as integer) AS hdist " +
      "FROM base, q ORDER BY hdist ASC, vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.functions.bquant
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val qBits = graft.functions.PackSign.packLocal(q)
    emb.select(col("vec_id"),
        bquant.hamming(bquant.packSigns(col("embedding")),
          lit(qBits)).as("hdist"))
      .orderBy(col("hdist").asc, col("vec_id"))
      .limit(10)
  }

  /** The BQ shortlist-then-rescore as ONE SQL TEXT — the
    * `v_ann_sql_e2e` story for the binary rung: a spark-sql / JDBC
    * user reaches the whole two-stage shape through the registered
    * functions (`graft_bq_pack` → `graft_bq_dot` shortlist,
    * `graft_dot` exact rescore) with no Column API at all. Same
    * plan, same rows as `v_bq_rerank`; the oracle is the identical
    * DuckDB replica. FULL hash oracle.
    */
  private val vBqSql = QueryDef.sqlChecked("v_bq_sql")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 7), " +
      "scored AS (SELECT vec_id, list_inner_product(list_transform(v, x -> " +
      "CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END), q.qv) AS bq FROM base, q), " +
      "sl AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (" +
      "ORDER BY bq DESC, vec_id) AS rn FROM scored) WHERE rn <= 30) " +
      "SELECT b.vec_id, list_inner_product(b.v, q.qv) AS score " +
      "FROM base b JOIN sl ON b.vec_id = sl.vec_id, q " +
      "ORDER BY score DESC, b.vec_id LIMIT 10"
  ) { (s, d) =>
    graft.plans.GraftExtensions.register(s)
    Tables.embeddings(s, d).createOrReplaceTempView("emb_bqsql")
    s.sql(
      """WITH base AS (SELECT vec_id, cast(embedding AS array<double>) AS v
        |  FROM emb_bqsql),
        |q AS (SELECT cast(embedding AS array<double>) AS qv FROM emb_bqsql
        |  WHERE vec_id = 7),
        |scored AS (SELECT vec_id,
        |    graft_bq_dot(graft_bq_pack(v), q.qv) AS bq
        |  FROM base CROSS JOIN q),
        |sl AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (
        |    ORDER BY bq DESC, vec_id) AS rn FROM scored) WHERE rn <= 30)
        |SELECT b.vec_id, graft_dot(b.v, q.qv) AS score
        |FROM base b JOIN sl ON b.vec_id = sl.vec_id CROSS JOIN q
        |ORDER BY score DESC, b.vec_id LIMIT 10""".stripMargin)
  }

  /** BQ as a SERVED tier — the shortlist rung live on the resident
    * handle, driver-gated end to end: build an IVF layout whose rows
    * carry the 8 B/vector sign-bit companion column
    * ([[graft.functions.bquant.packSigns]]), stream TWO upsert
    * families through [[graft.streaming.IndexMaintenance.appendToServing]]
    * (brand-new ids with doubled vectors, and RE-EMBEDS of existing
    * ids with negated vectors at a higher version — sign patterns
    * fully flipped), then serve
    * [[graft.operators.Serving.searchBqRerank]]: sign-dot shortlist
    * top-30 over the probed leaves' codes, broadcast back, exact
    * float rescore top-10. The append path derives the sign codes
    * from the appended vectors ITSELF, so the re-embedded rows must
    * shortlist by their NEW signs (stale codes would rank them first
    * for this query instead of last) — that freshness is what the
    * hash gate proves. The oracle replays the whole lifecycle: LWW
    * resolve, per-provenance leaf assignment (build spill 2, append
    * spill 1), query probe, sign-dot shortlist, exact rescore.
    */
  private val rServeBq = QueryDef.sqlChecked("r_serve_bq")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v, " +
      "1 AS version FROM embeddings), " +
      "up AS (SELECT vec_id + 200000 AS vec_id, " +
      "list_transform(v, x -> 2*x) AS v, 1 AS version FROM base " +
      "WHERE vec_id % 40 = 11 " +
      "UNION ALL SELECT vec_id, list_transform(v, x -> -x), 2 " +
      "FROM base WHERE vec_id % 30 = 7), " +
      "delta AS (SELECT vec_id, max(version) AS latest FROM up " +
      "GROUP BY vec_id), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 7), " +
      // build rows that survive LWW keep their spill-2 assignment;
      // appended rows (both families) assign spill-1 on their OWN
      // vectors
      "liveb AS (SELECT b.vec_id, b.v FROM base b LEFT JOIN delta d " +
      "ON b.vec_id = d.vec_id WHERE d.latest IS NULL), " +
      "assignb AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT l.vec_id, l.v, c.cid, row_number() OVER (" +
      "PARTITION BY l.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(l.v, c.cv), c.cid) AS rn " +
      "FROM liveb l, cent c) WHERE rn <= 2), " +
      "assignu AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT u.vec_id, u.v, c.cid, row_number() OVER (" +
      "PARTITION BY u.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(u.v, c.cv), c.cid) AS rn " +
      "FROM up u JOIN delta d ON u.vec_id = d.vec_id " +
      "AND u.version = d.latest, cent c) WHERE rn <= 1), " +
      "assign AS (SELECT * FROM assignb UNION ALL SELECT * FROM assignu), " +
      "probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (" +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT DISTINCT a.vec_id, a.v FROM assign a " +
      "JOIN probe p ON a.leaf_id = p.cid), " +
      "sl AS (SELECT vec_id, v FROM (SELECT vec_id, v, " +
      "row_number() OVER (ORDER BY list_inner_product(" +
      "list_transform(v, x -> CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END), " +
      "q.qv) DESC, vec_id) AS rn FROM cand, q) WHERE rn <= 30) " +
      "SELECT vec_id, list_inner_product(sl.v, q.qv) AS score " +
      "FROM sl, q ORDER BY score DESC, vec_id LIMIT 10"
  ) { (s, d) =>
    import graft.operators.IvfIndex
    import graft.streaming.IndexMaintenance
    import graft.functions.bquant
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1).as("version"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)
    val query = base.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servebq_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 2)))
      .withColumn("bq_code", bquant.packSigns(col("v")))
    IvfIndex.write(indexed, servePath.toString, model)
    graft.operators.ServingManifest.promote(s, servePath.toString,
      Seq("version"))

    // two upsert families in ONE batch: new ids (doubled — same sign
    // pattern, double the score) and re-embeds (negated — every sign
    // flips, so stale codes would invert their shortlist rank)
    val planted = base.filter(col("vec_id") % 40 === 11)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("v", transform(col("v"), x => x * 2))
      .unionByName(base.filter(col("vec_id") % 30 === 7)
        .withColumn("v", transform(col("v"), x => -x))
        .withColumn("version", lit(2)))
    IndexMaintenance.appendToServing(s, servePath.toString, planted,
      "vec_id", "v", "version", spill = 1)

    val serving = graft.operators.Serving.open(s, servePath.toString,
      id = "vec_id", vecCol = "v")
    require(serving.hasBq && serving.tier == "raw",
      "r_serve_bq: the layout must be raw + bq companion")
    serving.searchBqRerank(query, nProbe = 2, m = 30, k = 10)
      .select(col("vec_id"), col("score"))
  }

  /** MaxSim LATE INTERACTION on the PQ TIER
    * ([[graft.operators.Serving.searchMaxSim]] on a PQ layout, which
    * scores with the tier's own ADC kernel) — the last cell of
    * the MaxSim × tier matrix (raw `v_maxsim`, SQ8 `v_maxsim_sq`,
    * and now ADC at the 64× footprint), WITH the OPQ rotation in the
    * loop: the layout is built in the reversal-rotated space (an
    * orthonormal basis that is exactly `list_reverse` in SQL, the
    * `v_pq_rotated` trick, so the LEARNED-rotation plumbing is
    * hash-checkable), codebook and rotation persist as sidecars, and
    * the serving call reloads both and rotates each query vector
    * once, in the token frame. score(doc) = Σ_q max over the doc's rows of
    * the ADC score, over the IVF-pruned union of the probed leaves
    * (probing on the ORIGINAL vectors — rotation changes the coded
    * space, never the router geometry). Every term is
    * SQL-replicable: forward per-subspace dots in ascending order +
    * float max + exact-decimal doc sum.
    */
  private val vMaxsimAdc = QueryDef.sqlChecked("v_maxsim_adc")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      s"cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, " +
      "list_reverse(cast(embedding as double[])) AS cv FROM embeddings " +
      s"WHERE vec_id IN (${PqIds.mkString(",")})), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,1,2)), " +
      "sub AS (SELECT unnest(range(0, 8)) AS s), " +
      "dist AS (SELECT b.vec_id, s.s, cb.c, " +
      "list_distance(list_reverse(b.v)[s.s*8+1 : s.s*8+8], " +
      "cv[s.s*8+1 : s.s*8+8]) AS d FROM base b CROSS JOIN sub s CROSS JOIN cb), " +
      "code AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, " +
      "row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn FROM dist) " +
      "WHERE rn = 1), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "probe AS (SELECT DISTINCT cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "term AS (SELECT code.vec_id, q.qid, code.s, " +
      "list_inner_product(list_reverse(q.qv)[code.s*8+1 : code.s*8+8], " +
      "cb.cv[code.s*8+1 : code.s*8+8]) AS t " +
      "FROM code JOIN cb ON code.c = cb.c " +
      "JOIN assign a ON code.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid CROSS JOIN q), " +
      "piv AS (SELECT vec_id, qid, " +
      (0 until 8).map(i => s"max(CASE WHEN s = $i THEN t END) AS t$i")
        .mkString(", ") +
      " FROM term GROUP BY vec_id, qid), " +
      "per AS (SELECT b.label, piv.qid, " +
      "max(t0+t1+t2+t3+t4+t5+t6+t7) AS best " +
      "FROM piv JOIN base b ON piv.vec_id = b.vec_id " +
      "GROUP BY b.label, piv.qid) " +
      "SELECT label, " + graft.Exact.sqlDsum("best", 12) + " AS score " +
      "FROM per GROUP BY label ORDER BY score DESC, label LIMIT 5"
  ) { (s, d) =>
    import graft.operators.{IvfIndex, ProductQuantizer}
    val emb = Tables.embeddings(s, d)
    val dim = ProductQuantizer.NumSub * ProductQuantizer.SubDim
    val basis = Array.tabulate(dim)(j =>
      Array.tabulate(dim)(i => if (i == dim - 1 - j) 1.0 else 0.0))
    val cbRot = ProductQuantizer.codebook(emb, "vec_id", "embedding", PqIds)
      .map(ProductQuantizer.rotate(_, basis))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = emb.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_maxsimadc_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val v = col("embedding").cast("array<double>")
    val coded = emb.select(col("vec_id"), col("label"),
        v.as("v"))
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("pq_code", ProductQuantizer.encodeExpr(
        ProductQuantizer.rotateExpr(col("v"), basis), cbRot))
      .drop("v")
    IvfIndex.write(coded, servePath.toString, model)
    ProductQuantizer.writeCodebook(s, servePath.toString, cbRot)
    ProductQuantizer.writeRotation(s, servePath.toString, basis)

    val qvecs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    graft.operators.Serving.open(s, servePath.toString)
      .searchMaxSim(qvecs, nProbe = 2, k = 5, docCol = "label")
  }

  /** BATCHED BQ shortlist-then-rescore on the resident handle
    * ([[graft.operators.Serving.searchBatchBqRerank]]) — a query
    * FRAME through the two-stage plan: routed probe, per-query
    * top-20 sign-dot shortlist (window limit over the 8 B codes),
    * broadcast of the survivor pairs back onto the pruned scan for
    * the exact float rescore, shared batch tail. Three tenants in
    * ONE plan; the oracle replays assignment (spill 2), per-query
    * probes, the per-query shortlist rank over ±1 inner products,
    * and the exact rescore rank. FULL hash oracle.
    */
  private val rServeBqBatch = QueryDef.sqlChecked("r_serve_bq_batch")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,21,33)), " +
      "assign AS (SELECT vec_id, v, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, b.v, c.cid, row_number() OVER (" +
      "PARTITION BY b.vec_id ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn <= 2), " +
      "probe AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT DISTINCT p.qid, a.vec_id, a.v FROM assign a " +
      "JOIN probe p ON a.leaf_id = p.cid), " +
      "sl AS (SELECT qid, vec_id, v FROM (SELECT c.qid, c.vec_id, c.v, " +
      "row_number() OVER (PARTITION BY c.qid ORDER BY " +
      "list_inner_product(list_transform(c.v, x -> " +
      "CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END), q.qv) DESC, c.vec_id) " +
      "AS rn FROM cand c JOIN q ON c.qid = q.qid) WHERE rn <= 20) " +
      "SELECT qid, vec_id, score, cast(rn as bigint) AS rn FROM (" +
      "SELECT sl.qid, sl.vec_id, " +
      "list_inner_product(sl.v, q.qv) AS score, row_number() OVER (" +
      "PARTITION BY sl.qid ORDER BY list_inner_product(sl.v, q.qv) " +
      "DESC, sl.vec_id) AS rn FROM sl JOIN q ON sl.qid = q.qid) " +
      "WHERE rn <= 5 ORDER BY qid, rn"
  ) { (s, d) =>
    import graft.operators.IvfIndex
    import graft.functions.bquant
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servebqb_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 2)))
      .withColumn("bq_code", bquant.packSigns(col("v")))
    IvfIndex.write(indexed, servePath.toString, model)

    val serving = graft.operators.Serving.open(s, servePath.toString,
      id = "vec_id", vecCol = "v")
    val queries = base.filter(col("vec_id").isin(0L, 21L, 33L))
      .select(col("vec_id").as("qid"), col("v"))
    serving.searchBatchBqRerank(queries, "qid", "v", nProbe = 2,
      m = 20, k = 5)
  }

  /** MaxSim LATE INTERACTION on the BQ SHORTLIST rung
    * ([[graft.operators.Serving.searchMaxSimBq]]) — the fourth cell
    * of the MaxSim × tier matrix (raw `v_maxsim`, SQ8 `v_maxsim_sq`,
    * ADC `v_maxsim_adc`, and now the 8 B sign-bit shortlist): stage 1
    * ranks DOCS by the sign-dot MaxSim over the packed codes (per-
    * (doc, qvec) max of ⟨sign(x), q⟩, exact-decimal doc sum) and
    * keeps the top-5 of the 10 labels; stage 2 ranks the 5 survivors
    * by the EXACT float MaxSim (both scored on the one scan, ranked
    * in one shortlist-mode top-k) — final scores exact,
    * the shortlist the only approximation. The oracle replays
    * assignment, the 3 queries' probed-leaf union, both MaxSim
    * stages over ±1 and raw inner products, and both deterministic
    * ranks. FULL hash oracle; m=5 of 10 labels makes the cut real
    * (a wrong stage-1 rank changes the final row set).
    */
  private val vMaxsimBq = QueryDef.sqlChecked("v_maxsim_bq")(
    "WITH base AS (SELECT vec_id, label, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "cast(embedding as double[]) AS cv FROM embeddings " +
      "WHERE vec_id IN (0,64,128,192,256,320,384,448)), " +
      "q AS (SELECT vec_id AS qid, cast(embedding as double[]) AS qv " +
      "FROM embeddings WHERE vec_id IN (0,1,2)), " +
      "assign AS (SELECT vec_id, cid AS leaf_id FROM (" +
      "SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv), c.cid) AS rn " +
      "FROM base b, cent c) WHERE rn = 1), " +
      "probe AS (SELECT DISTINCT cid FROM (SELECT q.qid, c.cid, " +
      "row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(q.qv, c.cv), c.cid) AS rn FROM cent c, q) " +
      "WHERE rn <= 2), " +
      "cand AS (SELECT b.vec_id, b.label, b.v FROM base b " +
      "JOIN assign a ON b.vec_id = a.vec_id " +
      "JOIN probe p ON a.leaf_id = p.cid), " +
      "sd AS (SELECT c.label, q.qid, max(list_inner_product(" +
      "list_transform(c.v, x -> CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END), " +
      "q.qv)) AS best FROM cand c, q GROUP BY c.label, q.qid), " +
      "sldoc AS (SELECT label FROM (SELECT label, row_number() OVER (" +
      "ORDER BY bq DESC, label) AS rn FROM (SELECT label, " +
      graft.Exact.sqlDsum("best", 12) + " AS bq FROM sd GROUP BY label)) " +
      "WHERE rn <= 5), " +
      "ex AS (SELECT c.label, q.qid, max(list_inner_product(c.v, q.qv)) " +
      "AS best FROM cand c JOIN sldoc s ON c.label = s.label, q " +
      "GROUP BY c.label, q.qid) " +
      "SELECT label, " + graft.Exact.sqlDsum("best", 12) + " AS score " +
      "FROM ex GROUP BY label ORDER BY score DESC, label LIMIT 3"
  ) { (s, d) =>
    import graft.operators.IvfIndex
    import graft.functions.bquant
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val centIds = Seq(0L, 64L, 128L, 192L, 256L, 320L, 384L, 448L)
    val cents = base.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val model = IvfIndex.Model(cents)

    val servePath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_maxsimbq_" + java.lang.Integer.toHexString(d.hashCode))
    if (java.nio.file.Files.exists(servePath)) {
      java.nio.file.Files.walk(servePath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
    val indexed = base
      .withColumn("leaf_id", explode(IvfIndex.probeExpr(model, col("v"), 1)))
      .withColumn("bq_code", bquant.packSigns(col("v")))
    IvfIndex.write(indexed, servePath.toString, model)

    val qvecs = base.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq
    graft.operators.Serving.open(s, servePath.toString,
        id = "vec_id", vecCol = "v")
      .searchMaxSimBq(qvecs, nProbe = 2, m = 5, k = 3, docCol = "label")
  }

  /** BQ SHORTLIST-m RECALL CURVE — the tuning table for the
    * two-stage tier's ONE knob (`v_ann_recall_curve`'s sibling at
    * the shortlist rung): overlap@10 of shortlist-then-exact-rescore
    * vs the exact top-10, at m ∈ {10, 30, 100}. The sign-tie m-sizing
    * rule (SCALE.md `bqtier`: m must exceed the query's sign-tie
    * plateau width) stops being a prose claim and becomes a
    * driver-hash-gated table an operator reads before picking m.
    * Fully deterministic: fixed embeddings, both stages tie-broken
    * by id, the rescore exact — so the curve itself hash-gates.
    * Shape at scale: one exact pass (the audit cost — sampled in
    * production) + per curve point one 8 B/vector scan and a
    * constant-size rescore.
    */
  private val vBqRecallCurve = QueryDef.sqlChecked("v_bq_recall_curve")(
    "WITH base AS (SELECT vec_id, cast(embedding as double[]) AS v " +
      "FROM embeddings), " +
      "q AS (SELECT cast(embedding as double[]) AS qv FROM embeddings " +
      "WHERE vec_id = 7), " +
      "scored AS (SELECT vec_id, list_inner_product(list_transform(v, " +
      "x -> CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END), q.qv) AS bq, " +
      "list_inner_product(v, q.qv) AS s FROM base, q), " +
      "exact AS (SELECT vec_id FROM scored ORDER BY s DESC, vec_id " +
      "LIMIT 10) " +
      Seq(10, 30, 100).map { m =>
        s"SELECT $m AS m, cast(count(e.vec_id) as bigint) AS n_hits, " +
          "cast(count(e.vec_id) as double) / 10.0 AS overlap FROM " +
          "(SELECT vec_id FROM (SELECT vec_id, s FROM scored " +
          s"ORDER BY bq DESC, vec_id LIMIT $m) " +
          "ORDER BY s DESC, vec_id LIMIT 10) p " +
          "LEFT JOIN exact e ON e.vec_id = p.vec_id"
      }.mkString(" UNION ALL ") +
      " ORDER BY m"
  ) { (s, d) =>
    import graft.functions.bquant
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    // one scan scores BOTH stages; each curve point reuses it
    val scored = emb.select(col("vec_id"),
        bquant.signDot(bquant.packSigns(col("embedding")),
          typedLit(q)).as("bq"),
        graft.functions.vectors.dotProduct(
          col("embedding").cast("array<double>"), typedLit(q)).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val exact = scored.orderBy(col("s").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), lit(1).as("__e"))
      Seq(10, 30, 100).map { m =>
        scored.orderBy(col("bq").desc, col("vec_id")).limit(m)
          .orderBy(col("s").desc, col("vec_id")).limit(10)
          .join(broadcast(exact), Seq("vec_id"), "left")
          .agg(count(col("__e")).as("n_hits"))
          .select(lit(m).as("m"), col("n_hits"),
            (col("n_hits").cast("double") / 10.0).as("overlap"))
      }.reduce(_ unionAll _)
        .orderBy("m")
        .localCheckpoint()
    } finally { scored.unpersist(); () }
  }

  /** BQ SIGN-PATTERN multiplicity histogram — the measurement the
    * SCALE.md m-sizing rule reads: 1-bit codes cannot rank inside a
    * sign-tie group, so the shortlist `m` must exceed the largest
    * set of corpus vectors sharing one sign pattern (the plateau =
    * this table's max multiplicity). One groupBy on the packed
    * 8 B code, then counts-of-counts — output is |distinct
    * multiplicities| rows of exact integers regardless of corpus
    * size, nothing near a string. The curve gate
    * (`v_bq_recall_curve`) shows WHAT overlap m buys; this shows WHY
    * (ties), closing the operator's sizing loop.
    */
  private val vBqSignStats = QueryDef.sqlChecked("v_bq_sign_stats")(
    "WITH pat AS (SELECT list_transform(cast(embedding as double[]), " +
      "x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS sp, " +
      "count(*) AS multiplicity FROM embeddings GROUP BY 1) " +
      "SELECT multiplicity, cast(count(*) as bigint) AS n_patterns " +
      "FROM pat GROUP BY multiplicity ORDER BY multiplicity"
  ) { (s, d) =>
    import graft.functions.bquant
    Tables.embeddings(s, d)
      .groupBy(bquant.packSigns(col("embedding")).as("sp"))
      .agg(count(lit(1)).as("multiplicity"))
      .groupBy("multiplicity")
      .agg(count(lit(1)).as("n_patterns"))
      .orderBy("multiplicity")
  }

  val defs: Seq[QueryDef] = Seq(vQuantize, vKnnQuantized, vPqEncode, vPqSearch,
    vPqBatch, vPqRotated, vIvfPqSearch, vIvfPqRerank, rServePq, rServeSq,
    rServeSqFull, rServeSqPerQuery, rServeSqPAdaptive, rServeSqNumR,
    vMaxsimSq, vMaxsimAdc, vBqSearch, vBqRerank, vBqHamming, rServeBq,
    rServeBqBatch, vMaxsimBq, vBqSql, vBqRecallCurve, vBqSignStats)
}
