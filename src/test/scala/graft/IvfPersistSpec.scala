package graft

import graft.operators.IvfIndex
import org.apache.spark.sql.functions._

/** Index DURABILITY: a written index is a resource that outlives the
  * builder (the reference's index is created by one process —
  * vector_store/utils/index_manager.py — and queried by another,
  * rag/search.py). A FRESH session must be able to reopen the index
  * from its path alone — load the model sidecar, register it, and get
  * probe results identical to the build-time model.
  */
class IvfPersistSpec extends SparkTestBase {

  test("a written index reopens in a fresh session with identical probes") {
    val emb = Tables.embeddings(spark, sf)
    val (indexed, model) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_persist").toString + "/idx"
    IvfIndex.write(indexed, dir, model)

    // fresh session state: separate function registry, optimizer
    // extensions, temp views — the builder session's in-memory model
    // is deliberately not consulted
    val s2 = spark.newSession()
    val loaded = IvfIndex.load(s2, dir)
    assert(loaded.stats == model.stats)
    assert(loaded.centroids.length == model.centroids.length)
    assert(loaded.centroids.zip(model.centroids).forall {
      case (a, b) => java.util.Arrays.equals(a, b)
    }, "centroids must round-trip bit-exactly")
    assert(loaded.router.isEmpty == model.router.isEmpty)

    val queries = Tables.embeddings(s2, sf).filter(col("vec_id") < 5)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    queries.foreach { q =>
      assert(loaded.topLeaves(q, 3) == model.topLeaves(q, 3))
    }

    // the serving story: open-from-disk + SQL-transparent probe
    graft.plans.GraftExtensions.register(s2)
    graft.plans.IndexCatalog.drop("persist_idx")
    graft.plans.IndexCatalog.open(s2, "persist_idx", dir)
    val q = queries.head
    val got = s2.read.parquet(dir)
      .filter(graft.plans.AnnPruning.probe("persist_idx", col("leaf_id"),
        q.toSeq, 3))
      .select("vec_id", "leaf_id").collect().toSet
    val expectLeaves = model.topLeaves(q, 3)
    val expect = s2.read.parquet(dir)
      .filter(col("leaf_id").isin(expectLeaves: _*))
      .select("vec_id", "leaf_id").collect().toSet
    assert(got.nonEmpty && got == expect)

    // the sidecar is hidden from data reads (underscore-prefixed dir)
    assert(s2.read.parquet(dir).columns.sorted
      .sameElements(indexed.columns.sorted))
  }

  test("the two-level router round-trips through the sidecar") {
    val rnd = new scala.util.Random(5)
    val cents = Array.fill(1500)(Array.fill(8)(rnd.nextGaussian()))
    val router = IvfIndex.Router.build(cents)
    val m = IvfIndex.Model(cents, IvfIndex.BuildStats(10L, 20L, 5L),
      Some(router))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_persist_r").toString + "/idx"
    IvfIndex.writeModel(spark, dir, m)
    val loaded = IvfIndex.load(spark, dir)
    val lr = loaded.router.getOrElse(fail("router not persisted"))
    assert(lr.groupOf.sameElements(router.groupOf))
    assert(lr.oversample == router.oversample)
    assert(lr.superCentroids.zip(router.superCentroids).forall {
      case (a, b) => java.util.Arrays.equals(a, b)
    })
    assert(loaded.stats == m.stats)
    val q = Array.fill(8)(rnd.nextGaussian())
    assert(loaded.topLeaves(q, 4) == m.topLeaves(q, 4))
  }

  test("sidecar chunked write round-trips past the chunk boundary") {
    val rnd = new scala.util.Random(13)
    val n = (1 << 16) + 500 // forces the append chunk
    val cents = Array.fill(n)(Array.fill(4)(rnd.nextGaussian()))
    val m = IvfIndex.Model(cents, IvfIndex.BuildStats(1L, 2L, 3L))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_persist_c").toString + "/idx"
    IvfIndex.writeModel(spark, dir, m)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.centroids.length == n)
    assert(loaded.centroids.zip(cents).forall {
      case (a, b) => java.util.Arrays.equals(a, b)
    })
    assert(loaded.stats == m.stats)
  }

  test("a truncated chunked sidecar fails loudly at load") {
    // the chunked write is not atomic: a crash between chunk appends
    // leaves a CONTIGUOUS centroid prefix. Simulate it by writing a
    // 2-chunk sidecar, then deleting the appended chunk's files — the
    // stats row's n_centroids total must make load refuse the prefix.
    val rnd = new scala.util.Random(17)
    val n = (1 << 16) + 300
    val cents = Array.fill(n)(Array.fill(4)(rnd.nextGaussian()))
    val m = IvfIndex.Model(cents, IvfIndex.BuildStats(1L, 2L, 3L))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_persist_t").toString + "/idx"
    IvfIndex.writeModel(spark, dir, m)
    val modelDir = new java.io.File(dir, "_graft_model")
    val parts = modelDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length >= 2, "expected a multi-file chunked sidecar")
    // keep the file holding the stats row (chunk 0 — part names carry
    // UUIDs, so identify it by content); drop the appended chunk(s)
    val statsFile = spark.read.parquet(modelDir.toString)
      .filter(col("kind") === "stats")
      .select(input_file_name()).head().getString(0)
    parts.filterNot(f => statsFile.endsWith(f.getName))
      .foreach(f => assert(f.delete()))
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.load(spark, dir)
    }
    assert(ex.getMessage.contains("truncated"))
  }

  test("load fails loudly on a data-only index (no sidecar)") {
    val emb = Tables.embeddings(spark, sf)
    val (indexed, _) = IvfIndex.build(emb, "vec_id", "embedding", 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_persist_n").toString + "/idx"
    IvfIndex.write(indexed, dir)
    intercept[Exception] { IvfIndex.load(spark, dir) }
  }

  test("MetaIO: a null or non-double list element fails with a " +
      "labelled error naming the column and file") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def readVec(vec: org.apache.spark.sql.Column): Throwable = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_metaio_list").toString + "/side"
      spark.range(1).select(vec.as("vec")).coalesce(1).write.parquet(dir)
      val p = new Path(dir)
      intercept[IllegalStateException] {
        graft.operators.MetaIO.read(conf, p.getFileSystem(conf), p, Seq("vec"))
      }
    }
    val nullElem = readVec(array(lit(1.0), lit(null).cast("double")))
    assert(nullElem.getMessage.contains("column 'vec'") &&
      nullElem.getMessage.contains(".parquet") &&
      nullElem.getMessage.contains("null list element at index 1"),
      nullElem.getMessage)
    val longs = readVec(array(lit(1L), lit(2L)))
    assert(longs.getMessage.contains("column 'vec'") &&
      longs.getMessage.contains("not of double"), longs.getMessage)
  }
}
