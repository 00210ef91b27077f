package graft

import graft.functions.vectors
import graft.operators.Knn
import org.apache.spark.sql.functions._

class VectorSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf).cache()

  test("dot product matches a driver-side computation") {
    val rows = emb.filter(col("vec_id") < 2)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val want = rows(0L).zip(rows(1L))
      .foldLeft(0.0) { case (s, (a, b)) => s + a.toDouble * b.toDouble }
    val got = emb.filter(col("vec_id") === 0).select(col("embedding").as("a"))
      .crossJoin(emb.filter(col("vec_id") === 1).select(col("embedding").as("b")))
      .select(vectors.dotProduct(col("a"), col("b"))).as[Double].head()
    assert(got == want)
  }

  test("dot/cosine/l2 are symmetric and self-consistent on random vectors") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(50)((List.fill(16)(rnd.nextDouble() * 10 - 5),
      List.fill(16)(rnd.nextDouble() * 10 - 5)))
    val rows = pairs.toDF("a", "b").select(
      vectors.dotProduct(col("a"), col("b")),
      vectors.dotProduct(col("b"), col("a")),
      vectors.cosineSimilarity(col("a"), col("b")),
      vectors.l2Distance(col("a"), col("b")),
      vectors.l2Distance(col("b"), col("a")),
      vectors.l2Norm(col("a"))).collect()
    rows.zip(pairs).foreach { case (r, (a, _)) =>
      val normA = math.sqrt(a.map(x => x * x).sum)
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(3) == r.getDouble(4))
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(5) - normA) < 1e-9)
    }
  }

  test("batch kNN returns exactly k per query with descending scores") {
    val df = SparkEntry.queries("v_knn_batch")(spark, sf).cache()
    val counts = df.groupBy("query_id").count().as[(Long, Long)].collect()
    assert(counts.forall(_._2 == 5) && counts.length == 8)
    // rank order consistent with score order
    val bad = df.withColumn("prev",
      lag("score", 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rn")))
      .filter(col("prev").isNotNull && col("prev") < col("score"))
    assert(bad.count() == 0)
  }

  test("crowding never exceeds 2 results per (query,label)") {
    val df = SparkEntry.queries("v_crowding")(spark, sf)
    assert(df.groupBy("query_id", "label").count()
      .filter(col("count") > 2).count() == 0)
  }

  test("filtered kNN honors both restricts") {
    val df = SparkEntry.queries("v_knn_filtered")(spark, sf)
    assert(df.filter(col("label") =!= 3 || col("vec_id") < 100).count() == 0)
  }

  test("knnJoinPerLeaf: heap and window branches share one schema and rows") {
    // the aggregate ranks any id type: its output must surface
    // (qid, nid) in the SOURCE id type, with the window form's rows —
    // int and string ids, a descending and an ascending metric
    val (indexed, _) = graft.operators.IvfIndex.build(
      emb.filter(col("vec_id") < 300), "vec_id", "embedding", 4)
    val intIdx = indexed.withColumn("vec_id", col("vec_id").cast("int"))
    val strIdx = indexed.withColumn("vec_id",
      format_string("v%04d", col("vec_id")))
    for ((name, idx, metric) <- Seq(
        ("int ids, dot", intIdx, graft.operators.Knn.Dot),
        ("string ids, dot", strIdx, graft.operators.Knn.Dot),
        ("int ids, L2", intIdx, graft.operators.Knn.L2))) {
      val heap = graft.operators.Knn.knnJoinPerLeaf(
        idx, "vec_id", "embedding", 3, metric)
      val window = graft.operators.Knn.knnJoinPerLeafWindow(
        idx, "vec_id", "embedding", 3, metric)
      assert(heap.schema("qid").dataType == window.schema("qid").dataType, name)
      assert(heap.schema("nid").dataType == window.schema("nid").dataType, name)
      assert(heap.schema("nid").dataType == idx.schema("vec_id").dataType,
        s"$name: nid must keep the source id type")
      assert(heap.schema("rn").dataType == window.schema("rn").dataType, name)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nid", "score", "rn")
          .orderBy("qid", "rn", "nid").collect().toSeq
      assert(rows(heap) == rows(window), name)
    }
  }

  test("top-k heap aggregate is partition-independent") {
    // the heap's total (score desc, id asc) order makes the kept set
    // and its emission order pure functions of the data
    val e = Tables.embeddings(spark, sf).select(col("label"), col("vec_id"),
      graft.functions.vectors.l2Norm(col("embedding")).as("nrm"))
    def run(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("label")
        .agg(graft.functions.TopKCrowded
          .column(col("nrm"), col("vec_id"), None, lit(3), lit(null)).as("top"))
        .select(col("label"), explode(col("top")).as("t"))
        .select(col("label"), col("t.id"), col("t.score"))
        .orderBy("label", "t.id").collect().toSeq
    assert(run(e) == run(e.repartition(17)))
  }
}
