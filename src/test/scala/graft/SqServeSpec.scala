package graft

import graft.functions.quantize
import graft.operators.IvfIndex
import graft.streaming.IndexMaintenance
import org.apache.spark.sql.functions._

/** SQ8 packed tier: the binary packing is lossless against the code
  * arrays, the packed integer dot is exactly the array integer dot,
  * bad codes fail loudly, and the serving lifecycle (build → append →
  * LWW read) scores identically through packed and unpacked paths.
  */
class SqServeSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("packed dot == array int dot for every corpus row") {
    val base = vecs
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("codes", quantize.codes(col("v"), col("ma")))
    val query = base.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray
    val (qMa, qPacked) = quantize.packLocal(query)
    // packLocal must mirror the column pipeline exactly
    val qCodes = base.filter(col("vec_id") === 7)
      .select(col("codes")).head().getSeq[Long](0)
    assert(qPacked.toSeq == qCodes.map(c => (c + 127L).toByte))
    assert(qMa == base.filter(col("vec_id") === 7)
      .select(col("ma")).head().getDouble(0))

    val both = base.select(
      col("vec_id"),
      quantize.packedDot(quantize.packCodes(col("codes")),
        lit(qPacked)).as("packed"),
      quantize.intDot(col("codes"),
        typedLit(qCodes)).as("unpacked"))
      .withColumn("diff", col("packed") =!= col("unpacked"))
    assert(both.filter(col("diff")).isEmpty,
      "packed and array integer dots must agree bit for bit")
  }

  test("pack fails loudly on out-of-range or null codes") {
    val bad = intercept[Exception] {
      spark.range(1).select(
        quantize.packCodes(array(lit(200L), lit(1L)))).collect()
    }
    assert(bad.getMessage != null)
  }

  test("SQ serving lifecycle: append + LWW read score parity") {
    val base = vecs.withColumn("version", lit(1L))
    val (indexed, model) = IvfIndex.build(base, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq_serve").toString + "/idx"
    val sq = indexed
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v")
    IvfIndex.write(sq, dir, model)

    // upsert id 7 (negated, version 2) and a new id through the SQ
    // append path: model comes from the sidecar, no codebook exists
    val b1 = base.filter(col("vec_id") === 7)
      .withColumn("v", transform(col("v"), x => -x))
      .withColumn("version", lit(2L))
      .unionByName(base.filter(col("vec_id") === 11)
        .withColumn("vec_id", lit(700000L)))
    IndexMaintenance.appendSqToServing(spark, dir, b1,
      "vec_id", "v", "version")

    val query = vecs.filter(col("vec_id") === 7)
      .select(col("v")).head().getSeq[Double](0).toArray
    val (qMa, qPacked) = quantize.packLocal(query)
    val served = IndexMaintenance.readServing(spark, dir, "vec_id", "version")
      .select(col("vec_id"),
        quantize.score(quantize.packedDot(col("sq_code"), lit(qPacked)),
          col("ma"), lit(qMa)).as("s"))

    // LWW: id 7 must be served from the NEGATED version-2 row — its
    // self-score flips sign; the new id must be visible
    val s7 = served.filter(col("vec_id") === 7).select("s").head().getDouble(0)
    assert(s7 < 0, s"id 7 must serve its negated upsert, got score $s7")
    assert(served.filter(col("vec_id") === 700000L).count() == 1)

    // parity: the same scores derive from re-quantizing the live
    // corpus with the array (unpacked) pipeline
    val live = base.filter(col("vec_id") =!= 7)
      .unionByName(b1.select("vec_id", "v", "version"))
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("codes", quantize.codes(col("v"), col("ma")))
    val qCodes = quantize.codes(typedLit(query.toSeq), lit(qMa))
    val expect = live.select(col("vec_id"),
      quantize.score(quantize.intDot(col("codes"), qCodes),
        col("ma"), lit(qMa)).as("s"))
    val joined = served.join(expect, "vec_id")
      .filter(served("s") =!= expect("s"))
    assert(joined.isEmpty, "packed serving scores must equal the " +
      "unpacked re-derivation on the live corpus")
    // served rows may carry spill copies (one per assigned leaf) with
    // identical scores; the ID set is the live corpus exactly
    assert(served.select("vec_id").distinct().count() == expect.count())

    // the resident handle detects the tier and serves the same
    // scores; the raw kernel refuses the coded layout loudly
    val handle = graft.operators.Serving.open(spark, dir)
    assert(handle.tier == "sq")
    val viaHandle = handle.searchSq(query, nProbe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val direct = served.groupBy("vec_id").agg(max(col("s")).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaHandle.toSeq == direct.toSeq,
      "Serving.searchSq must match the direct packed scoring")
    val wrongKernel = intercept[IllegalArgumentException] {
      handle.searchAdc(query, 2, 5)
    }
    assert(wrongKernel.getMessage.contains("'sq' tier"))

    // restricts sit on the pruned scan: only the version-2 upsert
    // (id 7) qualifies
    val restricted = handle.searchSq(query, nProbe = 8, k = 1000,
      restricts = Seq(col("version") === 2L)).collect()
    assert(restricted.map(_.getLong(0)).toSeq == Seq(7L),
      s"version=2 restrict must isolate the upsert, got " +
        restricted.map(_.getLong(0)).mkString(","))

    // batched SQ == per-query SQ row for row (8 leaves: exact routing
    // both paths); queries quantize in-plan, no driver-side packing
    val qframe = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val batch = handle.searchBatchSq(qframe, "query_id", "qv",
        nProbe = 2, k = 5)
      .orderBy("query_id", "rn")
      .select("query_id", "vec_id", "sq_score")
      .as[(Long, Long, Double)].collect().toSeq
    val perQuery = (0L until 3L).flatMap { q =>
      val qv = vecs.filter(col("vec_id") === q)
        .select("v").head().getSeq[Double](0).toArray
      handle.searchSq(qv, nProbe = 2, k = 5)
        .select("vec_id", "sq_score")
        .as[(Long, Double)].collect().toSeq.map(r => (q, r._1, r._2))
    }
    assert(batch == perQuery,
      "batched SQ must equal the per-query packed path")
  }

  test("SQ8 MaxSim batch isolation and routing parity: each qid of " +
      "searchMaxSimBatch == searchMaxSim over its own tokens; allow-map " +
      "and per-qid k bind on this tier") {
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val (indexed, model) = IvfIndex.build(base, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq_maxsimb").toString + "/idx"
    val sq = indexed
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v")
    IvfIndex.write(sq, dir, model)
    val live = graft.operators.Serving.open(spark, dir, id = "vec_id",
      vecCol = "v")
    assert(live.tier == "sq")
    val byId = base.filter(col("vec_id") <= 5L)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val groups = Map(
      0L -> Seq(byId(0L), byId(1L)),
      1L -> Seq(byId(2L), byId(3L), byId(4L)),
      2L -> Seq(byId(5L)))
    val queries = groups.toSeq.sortBy(_._1).toDF("qid", "qvecs")
    val batch = live.searchMaxSimBatch(queries, "qid", "qvecs",
        nProbe = 3, k = 5, docCol = "label")
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getInt(1), r.getDouble(2))).toSeq).toMap
    assert(batch.keySet == groups.keySet)
    for ((qid, vs) <- groups) {
      val per = live.searchMaxSim(vs.map(_.toArray), nProbe = 3,
          k = 5, docCol = "label")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
      assert(batch(qid) == per,
        s"batched and per-qid SQ MaxSim diverge for $qid:\n" +
          s"batch=${batch(qid)}\nper=$per")
    }
    // the per-query knobs ride the shared core unchanged on this
    // tier: an allow-map excludes its labels, per-qid k clamps
    val q1 = Seq((0L, groups(0L).map(_.toSeq),
        Option(Map("label" -> Seq("0", "2", "4", "6", "8"))), 2))
      .toDF("qid", "qvecs", "allow", "k")
    val knobbed = live.searchMaxSimBatchPerQuery(q1, "qid", "qvecs",
        "allow", Seq("label"), nProbe = 3, k = 5, docCol = "label",
        kCol = Some("k"))
      .collect()
    assert(knobbed.length == 2, "per-qid k=2 must clamp")
    knobbed.foreach(r =>
      assert(r.getInt(1) % 2 == 0, "allow-map must exclude odd labels"))
  }

  test("SQ tier takes streaming upserts: foreachBatch quantizes and " +
      "appends at micro-batch rates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = vecs.withColumn("version", lit(1L))
    val (indexed, model) = IvfIndex.build(base, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq_stream").toString + "/idx"
    val sq0 = indexed
      .withColumn("ma", quantize.maxAbs(col("v")))
      .withColumn("sq_code",
        quantize.packCodes(quantize.codes(col("v"), col("ma"))))
      .drop("v")
    IvfIndex.write(sq0, dir, model)
    val v7 = vecs.filter(col("vec_id") === 7)
      .select("v").head().getSeq[Double](0)

    val stream = MemoryStream[(Long, Seq[Double], Long)]
    val job = stream.toDF.toDF("vec_id", "v", "version")
      .writeStream.outputMode("append")
      .option("checkpointLocation", dir + ".ckpt")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
        graft.streaming.IndexMaintenance.appendSqToServing(
          spark, dir, batch, "vec_id", "v", "version")
      }
      .start()
    def send(rows: (Long, Seq[Double], Long)*): Unit = {
      stream.addData(rows: _*); job.processAllAvailable()
    }
    send((0 until 5).map(j =>
      (800000L + j, v7.map(_ * (1 + 0.1 * j)), 1L)): _*)
    send((7L, v7.map(-_), 2L))
    job.stop()

    val handle = graft.operators.Serving.open(spark, dir)
    assert(handle.tier == "sq")
    val served = handle.data
    assert(served.filter(col("vec_id") >= 800000L)
      .select("vec_id").distinct().count() == 5,
      "streamed SQ upserts must be served")
    val s7 = handle.searchSq(v7.toArray, nProbe = 8, k = 1000)
      .filter(col("vec_id") === 7).select("sq_score")
      .head().getDouble(0)
    assert(s7 < 0,
      s"id 7 must serve its streamed negated upsert, got score $s7")
  }
}
