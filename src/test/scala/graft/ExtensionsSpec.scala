package graft

import graft.operators.SaltedJoin
import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("graft functions are callable from SQL text") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb")
    val row = spark.sql(
      """SELECT graft_dot(a.embedding, b.embedding) AS dot,
        |       graft_cosine(a.embedding, b.embedding) AS cos,
        |       graft_l2(a.embedding, b.embedding) AS l2,
        |       graft_norm(a.embedding) AS nrm,
        |       graft_polyhash('abc') AS ph,
        |       graft_bpe_count('the then there') AS bpe
        |FROM emb a JOIN emb b ON a.vec_id = 0 AND b.vec_id = 1
        |""".stripMargin).head()
    // cross-check against the Column API
    val expect = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding".as("a"))
      .crossJoin(Tables.embeddings(spark, sf).filter($"vec_id" === 1)
        .select($"embedding".as("b")))
      .select(
        graft.functions.vectors.dotProduct($"a", $"b"),
        graft.functions.vectors.cosineSimilarity($"a", $"b"),
        graft.functions.vectors.l2Distance($"a", $"b"),
        graft.functions.vectors.l2Norm($"a")).head()
    assert(row.getDouble(0) == expect.getDouble(0))
    assert(row.getDouble(1) == expect.getDouble(1))
    assert(row.getDouble(2) == expect.getDouble(2))
    assert(row.getDouble(3) == expect.getDouble(3))
    assert(row.getLong(4) == 96354L) // 'abc' rolling hash
    assert(row.getLong(5) == graft.functions.BpeCodec.countText(
      org.apache.spark.unsafe.types.UTF8String.fromString("the then there")))
  }

  test("BQ kernels are callable from SQL text and match the Column " +
      "API bit for bit") {
    import graft.functions.bquant
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_bqext")
    val rows = spark.sql(
      """SELECT a.vec_id,
        |       graft_bq_dot(graft_bq_pack(a.embedding), b.embedding) AS d,
        |       graft_bq_hamming(graft_bq_pack(a.embedding),
        |                        graft_bq_pack(b.embedding)) AS h
        |FROM emb_bqext a CROSS JOIN emb_bqext b
        |WHERE b.vec_id = 3 AND a.vec_id < 50
        |""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq.sorted
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") === 3L)
      .select("v").head().getSeq[Double](0)
    val qBits = graft.functions.PackSign.packLocal(q.toArray)
    val expect = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"),
        bquant.signDot(bquant.packSigns(col("v")), typedLit(q)).as("d"),
        bquant.hamming(bquant.packSigns(col("v")), lit(qBits)).as("h"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      .toSeq.sorted
    assert(rows == expect,
      "SQL-registered BQ kernels must match the Column API exactly")
  }

  test("graft_top_k from SQL matches window ranking at k=1000") {
    GraftExtensions.register(spark)
    // 5 groups × 3000 rows, scores drawn from only 97 distinct values
    // so the heap's tie-breaking (score desc, id asc) is exercised
    // hard at a k where the old linear-scan insert would be O(n·k)
    val df = spark.range(15000).select(
      (col("id") % 5).as("g"), col("id"),
      (pmod(xxhash64(col("id")), lit(97L)).cast("double") / 7.0).as("score"))
    df.createOrReplaceTempView("topk_in")
    val got = spark.sql(
      """SELECT g, posexplode(graft_top_k(score, id, 1000)) AS (pos, t)
        |FROM topk_in GROUP BY g""".stripMargin)
      .select(col("g"), col("pos"), col("t.score"), col("t.id"))
      .orderBy("g", "pos").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("score").desc, col("id"))
    val expect = df
      .withColumn("pos", row_number().over(w) - 1)
      .filter(col("pos") < 1000)
      .select(col("g"), col("pos"), col("score"), col("id"))
      .orderBy("g", "pos").collect().toSeq
    assert(got.size == 5000)
    assert(got == expect) // kept set AND emission order match the rank
    // partition-independence at k=1000 (the heap's total order), via
    // a layout that forces different partial-buffer merge shapes
    val byCol = { (frame: org.apache.spark.sql.DataFrame) =>
      frame.groupBy("g")
        .agg(graft.functions.TopKCrowded.column(col("score"), col("id"), None,
          lit(1000), lit(null)).as("top"))
        .select(col("g"), col("top")).orderBy("g").collect().toSeq
    }
    assert(byCol(df) == byCol(df.repartition(17)))
  }

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, sf)
    val small = Tables.supplier(spark, sf)
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val salted = SaltedJoin(li, small, "l_suppkey",
      saltSrc = col("l_orderkey"), salts = 8)
      .groupBy("l_suppkey").count()
    val plain = li.join(small, "l_suppkey").groupBy("l_suppkey").count()
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }
}
