package graft

import graft.operators.ProductQuantizer
import org.apache.spark.sql.functions._

/** Product-quantization quality/contract checks beyond the hash gate. */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  private val ids = (0 until 16).map(c => c * 31L + 5L)

  test("ADC top-10 approximates exact dot top-10; query ranks first") {
    val emb = Tables.embeddings(spark, sf).cache()
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", ids)
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val adc = ProductQuantizer.search(emb, "vec_id", "embedding", cb, query, 10)
      .select("vec_id").as[Long].collect()
    // the query's own (exactly encodable) vector must win
    assert(adc.head == 7L)
    val exact = emb
      .select(col("vec_id"),
        graft.functions.vectors.dotProduct(col("embedding"),
          typedLit(query.toSeq)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val overlap = adc.toSet.intersect(exact).size
    // 64x compression with fixed (non-learned) codebooks: measured 5/10
    // at sf0.001 and 4/10 at sf0.1; 3 is the regression floor
    assert(overlap >= 3, s"ADC/exact top-10 overlap fell to $overlap")
  }

  test("trained codebooks beat fixed rows on the PQ objective and are " +
      "deterministic, drop-in replacements") {
    val emb = Tables.embeddings(spark, sf).cache()
    val fixed = ProductQuantizer.codebook(emb, "vec_id", "embedding", ids)
    val trained = ProductQuantizer.trainCodebooks(emb, "vec_id", "embedding")
    // Lloyd's minimizes exactly what reconstructionError measures; 16
    // arbitrary corpus rows don't — trained must be strictly better
    val errFixed = ProductQuantizer.reconstructionError(emb, "embedding", fixed)
    val errTrained = ProductQuantizer
      .reconstructionError(emb, "embedding", trained)
    assert(errTrained < errFixed,
      s"trained $errTrained should beat fixed $errFixed")
    info(f"mean reconstruction error: fixed $errFixed%.4f, " +
      f"trained $errTrained%.4f (${errFixed / errTrained}%.2fx)")
    // deterministic: a re-train over the same data is bit-identical
    // (what makes a trained codebook safe to persist beside a
    // reproducible index)
    val again = ProductQuantizer.trainCodebooks(emb, "vec_id", "embedding")
    assert(trained.zip(again).forall {
      case (a, b) => java.util.Arrays.equals(a, b)
    })
    // vectors that do not split into NumSub × SubDim are refused
    intercept[IllegalArgumentException] {
      ProductQuantizer.trainCodebooks(emb.select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding")), "vec_id", "embedding")
    }
    // drop-in: same representation → encode, ADC search, and the
    // sidecar round-trip all work unchanged
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val adc = ProductQuantizer
      .search(emb, "vec_id", "embedding", trained, query, 10)
      .select("vec_id").as[Long].collect()
    assert(adc.nonEmpty)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pq_train").toString + "/idx"
    emb.limit(1).select("vec_id").write.parquet(dir) // a data stub to anchor the path
    ProductQuantizer.writeCodebook(spark, dir, trained)
    val loaded = ProductQuantizer.loadCodebook(spark, dir)
    assert(loaded.zip(trained).forall {
      case (a, b) => java.util.Arrays.equals(a, b)
    })
  }

  test("ADC score of a codebook row equals the exact dot product") {
    // a codebook row encodes to itself per subspace, so its ADC score
    // reconstructs the true dot(query, row) EXACTLY — the identity
    // that anchors ADC's approximation error at zero for code points
    val emb = Tables.embeddings(spark, sf)
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", ids)
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val adc = ProductQuantizer
      .search(emb.filter(col("vec_id").isin(ids: _*)), "vec_id", "embedding",
        cb, query, ids.length)
      .select("vec_id", "adc_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ids.zipWithIndex.foreach { case (id, c) =>
      // same blockwise order as ADC: per-subspace forward dots combined
      // left-associatively (a flat 64-term accumulation differs in the
      // last ulp — summation order matters in IEEE)
      val dot = (0 until 8).map { sb =>
        var t = 0.0
        var j = 0
        while (j < 8) { t += query(sb * 8 + j) * cb(c)(sb * 8 + j); j += 1 }
        t
      }.reduce(_ + _)
      assert(adc(id) == dot, s"ADC(${id}) = ${adc(id)}, blockwise dot = $dot")
    }
  }

  test("packed code stores 8 valid 4-bit subspace codes") {
    val emb = Tables.embeddings(spark, sf)
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", ids)
    val packed = emb.select(ProductQuantizer
      .encodeExpr(col("embedding").cast("array<double>"), cb).as("p"))
    // all 32 high bits clear, every nibble < 16 by construction
    assert(packed.filter(col("p") < 0 || col("p") >= (1L << 32)).count() == 0)
    // codebook rows encode to themselves: nibble s = own code c
    val self = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), ProductQuantizer
        .encodeExpr(col("embedding").cast("array<double>"), cb).as("p"))
      .collect().sortBy(_.getLong(0))
    self.zipWithIndex.foreach { case (r, c) =>
      val expected = (0 until 8).map(s => c.toLong << (4 * s)).sum
      assert(r.getLong(1) == expected,
        s"codebook row ${r.getLong(0)} encoded to ${r.getLong(1)}, " +
          s"expected $expected")
    }
  }

  test("anisotropic training at eta=1 IS Lloyd's, bit-identical") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val plain = ProductQuantizer.trainCodebooks(emb, "vec_id", "v")
    val iso = ProductQuantizer.trainCodebooksAniso(emb, "vec_id", "v", 1.0)
    assert(plain.length == iso.length)
    plain.zip(iso).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b),
        "eta=1 must reduce the weighted update to the exact mean")
    }
  }

  test("anisotropic training is deterministic and eta>1 moves the " +
      "codebook toward score-aware placement") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a1 = ProductQuantizer.trainCodebooksAniso(emb, "vec_id", "v", 4.0)
    val a2 = ProductQuantizer.trainCodebooksAniso(emb, "vec_id", "v", 4.0)
    a1.zip(a2).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x, y), "two trains must be identical")
    }
    val plain = ProductQuantizer.trainCodebooks(emb, "vec_id", "v")
    assert(a1.zip(plain).exists { case (x, y) =>
      !java.util.Arrays.equals(x, y)
    }, "eta=4 must actually change the placement")
    // the weighted objective is finite and the codebook is usable by
    // the unchanged encode/ADC machinery
    val err = ProductQuantizer.reconstructionError(emb, "v", a1)
    assert(err.isFinite && err >= 0)
  }

  test("full-vector anisotropic training (coordinate descent) is " +
      "deterministic and plugs into the unchanged encode") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val f1 = ProductQuantizer.trainCodebooksAnisoFull(emb, "vec_id", "v", 2.0)
    val f2 = ProductQuantizer.trainCodebooksAnisoFull(emb, "vec_id", "v", 2.0)
    f1.zip(f2).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x, y), "two trains must be identical")
    }
    val plain = ProductQuantizer.trainCodebooks(emb, "vec_id", "v")
    assert(f1.zip(plain).exists { case (x, y) =>
      !java.util.Arrays.equals(x, y)
    }, "the coupled objective must move the placement")
    // the full-trained codebook serves through the EXISTING codegen
    // encode + ADC — the deployment that measured +1.1pt recall@10
    // (PERF round-7): no serving-side change needed
    val err = ProductQuantizer.reconstructionError(emb, "v", f1)
    assert(err.isFinite && err >= 0)
    val coded = emb.withColumn("pq_code",
      ProductQuantizer.encodeExpr(col("v"), f1))
    assert(coded.filter(col("pq_code").isNull).count() == 0)
  }

  test("ivfpq rerank: final scores are the exact dot products and the " +
    "shortlist join is a broadcast") {
    val res = SparkEntry.queries("v_ivfpq_rerank")(spark, sf)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "shortlist join must broadcast the constant-size shortlist")
    val emb = Tables.embeddings(spark, sf)
    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val exact = emb
      .select(col("vec_id"),
        graft.functions.vectors.dotProduct(
          col("embedding").cast("array<double>"),
          typedLit(query.toSeq)).as("s"))
      .as[(Long, Double)].collect().toMap
    res.as[(Long, Double)].collect().foreach { case (id, score) =>
      assert(exact(id) == score,
        s"rerank score for $id is not the exact dot: $score vs ${exact(id)}")
    }
  }

  test("resident handle serves the PQ tier: searchAdc == inline ADC, " +
      "raw kernel refused") {
    import graft.operators.{IvfIndex, Serving}
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(1L).as("version"))
    val cb = ProductQuantizer.codebook(emb, "vec_id", "embedding", ids)
    val (indexed, model) = IvfIndex.build(base, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pq_handle").toString + "/idx"
    val coded = indexed
      .withColumn("pq_code", ProductQuantizer.encodeExpr(col("v"), cb))
      .drop("v")
    IvfIndex.write(coded, dir, model)
    ProductQuantizer.writeCodebook(spark, dir, cb)

    val query = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val handle = Serving.open(spark, dir)
    assert(handle.tier == "pq")
    val viaHandle = handle.searchAdc(query, nProbe = 8, k = 10)
      .select("vec_id", "adc_score")
      .as[(Long, Double)].collect().toSeq
    // inline form: same codebook, same probe width (8 of 8 = all)
    val inline = spark.read.parquet(dir)
      .select(col("vec_id"),
        ProductQuantizer.adcScoreExpr(col("pq_code"),
          ProductQuantizer.adcTable(query, cb)).as("adc_score"))
      .groupBy("vec_id").agg(max(col("adc_score")).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id")).limit(10)
      .as[(Long, Double)].collect().toSeq
    assert(viaHandle == inline,
      "Serving.searchAdc must match the inline ADC scoring")
    val boom = intercept[IllegalArgumentException] {
      handle.searchSq(query, 2, 5)
    }
    assert(boom.getMessage.contains("'pq' tier"))

    // batched ADC == per-query ADC row for row (8 leaves: both
    // routing paths are exact)
    val qframe = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = handle.searchBatchAdc(qframe, "query_id", "qv",
        nProbe = 2, k = 5)
      .orderBy("query_id", "rn")
      .select("query_id", "vec_id", "adc_score")
      .as[(Long, Long, Double)].collect().toSeq
    val perQuery = (0L until 3L).flatMap { q =>
      val qv = emb.filter(col("vec_id") === q)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      handle.searchAdc(qv, nProbe = 2, k = 5)
        .select("vec_id", "adc_score")
        .as[(Long, Double)].collect().toSeq.map(r => (q, r._1, r._2))
    }
    assert(batch == perQuery,
      "batched ADC must equal the per-query ADC path")
  }

  test("PQ MaxSim batch isolation and routing parity, WITH the OPQ " +
      "rotation in the loop: each qid of searchMaxSimBatch == " +
      "searchMaxSim over its own tokens") {
    import graft.operators.{IvfIndex, Serving}
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val dim = ProductQuantizer.NumSub * ProductQuantizer.SubDim
    // the exact reversal basis the gates use: orthonormal, SQL-free here
    val basis = Array.tabulate(dim)(j =>
      Array.tabulate(dim)(i => if (i == dim - 1 - j) 1.0 else 0.0))
    val cbRot = ProductQuantizer.codebook(emb, "vec_id", "embedding", ids)
      .map(ProductQuantizer.rotate(_, basis))
    val (indexed, model) = IvfIndex.build(base, "vec_id", "v", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pq_maxsimb").toString + "/idx"
    val coded = indexed
      .withColumn("pq_code", ProductQuantizer.encodeExpr(
        ProductQuantizer.rotateExpr(col("v"), basis), cbRot))
      .drop("v")
    IvfIndex.write(coded, dir, model)
    ProductQuantizer.writeCodebook(spark, dir, cbRot)
    ProductQuantizer.writeRotation(spark, dir, basis)
    val handle = Serving.open(spark, dir)
    assert(handle.tier == "pq")
    val byId = base.filter(col("vec_id") <= 5L)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val groups = Map(
      0L -> Seq(byId(0L), byId(1L)),
      1L -> Seq(byId(2L), byId(3L), byId(4L)),
      2L -> Seq(byId(5L)))
    val queries = groups.toSeq.sortBy(_._1).toDF("qid", "qvecs")
    val batch = handle.searchMaxSimBatch(queries, "qid", "qvecs",
        nProbe = 3, k = 5, docCol = "label")
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getInt(1), r.getDouble(2))).toSeq).toMap
    assert(batch.keySet == groups.keySet)
    for ((qid, vs) <- groups) {
      val per = handle.searchMaxSim(vs.map(_.toArray), nProbe = 3,
          k = 5, docCol = "label")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
      assert(batch(qid) == per,
        s"batched and per-qid ADC MaxSim diverge for $qid:\n" +
          s"batch=${batch(qid)}\nper=$per")
    }
  }

  test("codebook and rotation sidecars load on the driver, and an empty " +
      "codebook fails loudly naming its dir") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val emb = Tables.embeddings(spark, sf)
    val cb = ProductQuantizer.trainCodebooks(emb, "vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pq_sidecar").toString + "/idx"
    ProductQuantizer.writeCodebook(spark, dir, cb)
    val basis = Array.tabulate(4, 4)((i, j) => if (i == j) 1.0 else 0.0)
    ProductQuantizer.writeRotation(spark, dir, basis)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            Option(p.getProperty("spark.job.tags")).exists(
              _.split(",").contains("pq-sidecar-end")))) marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val (loaded, rot) = try {
      val out = (ProductQuantizer.loadCodebook(spark, dir),
        ProductQuantizer.loadRotation(spark, dir))
      // listener events arrive in order: the marker flushes the bus
      sc.addJobTag("pq-sidecar-end")
      sc.parallelize(Seq(1), 1).count()
      sc.removeJobTag("pq-sidecar-end")
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      out
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"sidecar loads ran ${jobs.get} Spark jobs")
    assert(loaded.zip(cb).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    assert(rot.get.zip(basis).forall { case (a, b) => java.util.Arrays.equals(a, b) })

    // a codebook sidecar with no rows: loud, and the message names it
    val empty = java.nio.file.Files
      .createTempDirectory("graft_pq_empty").toString + "/idx"
    ProductQuantizer.writeCodebook(spark, empty, cb)
    spark.read.parquet(ProductQuantizer.codebookDir(empty)).limit(0)
      .write.mode("overwrite").parquet(empty + "/_tmp_cb")
    val fs = new org.apache.hadoop.fs.Path(empty)
      .getFileSystem(sc.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ProductQuantizer.codebookDir(empty)), true)
    fs.rename(new org.apache.hadoop.fs.Path(empty + "/_tmp_cb"),
      new org.apache.hadoop.fs.Path(ProductQuantizer.codebookDir(empty)))
    val e = intercept[IllegalStateException] {
      ProductQuantizer.loadCodebook(spark, empty)
    }
    assert(e.getMessage.contains(ProductQuantizer.codebookDir(empty)) &&
      e.getMessage.contains("no rows"), e.getMessage)
  }
}
