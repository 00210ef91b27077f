package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{bquant, quantize}
import graft.operators.{IvfIndex, ProductQuantizer, Serving}

/** The serve workload: one seeded vector corpus laid out as raw+BQ,
  * SQ8 and PQ; then closed-loop traffic from one client thread that
  * alternates one 64-query batch (rotating through the four tiers) with
  * a few full-shape single requests.
  */
object Serve {

  /** Corpus shape. N/500 leaves requested (the reference's ~500
    * vectors per leaf), spill 2; the build splits leaves past 500 rows,
    * ending at 34-38 leaves, so 10% of leaves is 4 on every seed tried.
    * Many small clusters keep leaf sizes even; the noise is tuned so
    * that 4 leaves miss some true neighbours (single-request recall@10
    * 0.84-0.90 on seeds 21-27) and recall can move either way.
    */
  val NumVectors = 5000
  val Clusters = 700
  val Noise = 0.45
  val QueryNoise = 0.3
  val LeafFraction = 0.10
  val BatchSize = 64
  /** The BQ tier's shortlist, the reference's 150 neighbours. */
  val Shortlist = 150

  val restricts: Seq[Column] = Seq(col("label") >= Gen.RestrictMinLabel)
  val crowding: Option[(String, Int)] = Some(("label", Gen.CrowdCap))

  private val corpusSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("version", LongType, nullable = false)))

  def title(id: Long): String = s"doc-$id"

  final case class Inputs(corpus: Gen.Corpus, queries: Array[Array[Double]],
      truth: Array[Array[Long]])

  /** Inputs and exact answers, outside every timed region. */
  def inputs(seed: Long, nQueries: Int): Inputs = {
    val c = Gen.corpus(seed, NumVectors, Clusters, Noise)
    val qs = Gen.queries(seed, c, nQueries, QueryNoise)
    Inputs(c, qs, Gen.groundTruth(c, qs))
  }

  private def corpusDf(run: Run, c: Gen.Corpus): DataFrame = {
    val rows = (0 until c.size).map(i =>
      Row(i.toLong, c.vecs(i).toSeq, c.labels(i), 1L))
    run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), corpusSchema)
  }

  private def metadataDf(run: Run, c: Gen.Corpus): DataFrame = {
    import run.spark.implicits._
    (0 until c.size).map(i => (i.toLong, title(i.toLong))).toDF("vec_id", "title")
  }

  final case class Layout(raw: Serving, sq8: Serving, pq: Serving,
      meta: DataFrame, model: IvfIndex.Model, dirs: Seq[String])

  /** Build + write + open, the way a deployment does it: the raw
    * layout with its BQ sign codes, an SQ8 and a PQ layout beside it,
    * and the metadata table.
    */
  def deploy(run: Run, c: Gen.Corpus, tag: String): Layout = {
    val tr = run.tr
    val emb = corpusDf(run, c)
    val numLeaves = math.max(1, c.size / 500)
    val (indexed, model) = tr.span("ivf.build") {
      IvfIndex.build(emb, "vec_id", "embedding", numLeaves, seed = run.seed)
    }
    indexed.persist()
    try {
      val rawDir = run.dir(s"$tag/raw")
      tr.span("ivf.write") {
        IvfIndex.write(indexed.withColumn("bq_code",
          bquant.packSigns(col("embedding"))), rawDir, model)
      }
      val metaDir = run.dir(s"$tag/meta")
      tr.span("meta.write") {
        metadataDf(run, c).write.mode("overwrite").parquet(metaDir)
      }
      val sqDir = run.dir(s"$tag/sq8")
      tr.span("tier.encode_write") {
        IvfIndex.write(indexed
          .withColumn("ma", quantize.maxAbs(col("embedding")))
          .withColumn("sq_code", quantize.packCodes(
            quantize.codes(col("embedding"), col("ma"))))
          .drop("embedding"), sqDir, model)
      }
      val cb = tr.span("pq.train") {
        ProductQuantizer.trainCodebooks(emb, "vec_id", "embedding")
      }
      val pqDir = run.dir(s"$tag/pq")
      tr.span("tier.encode_write") {
        IvfIndex.write(indexed
          .withColumn("pq_code", ProductQuantizer.encodeExpr(col("embedding"), cb))
          .drop("embedding"), pqDir, model)
        ProductQuantizer.writeCodebook(run.spark, pqDir, cb)
      }
      def open(d: String) = tr.span("manifest.open")(Serving.open(run.spark, d))
      Layout(open(rawDir), open(sqDir), open(pqDir),
        run.spark.read.parquet(metaDir), model, Seq(rawDir, metaDir, sqDir, pqDir))
    } finally { indexed.unpersist(); () }
  }

  def nProbe(l: Layout): Int =
    math.max(1, math.ceil(l.raw.numLeaves * LeafFraction).toInt)

  /** Restrict, crowding and ordering checks on one ranked answer. */
  def rankChecks(c: Gen.Corpus, ids: Seq[Long], scores: Seq[Double],
      what: String): Seq[String] = {
    val bad = Seq.newBuilder[String]
    if (ids.length != Gen.K) bad += s"$what: ${ids.length} rows, want ${Gen.K}"
    if (ids.distinct.length != ids.length) bad += s"$what: duplicate ids"
    if (!Run.nonIncreasing(scores)) bad += s"$what: scores increase"
    if (ids.exists(id => id < 0 || id >= c.size)) bad += s"$what: unknown id"
    else {
      if (ids.exists(id => c.labels(id.toInt) < Gen.RestrictMinLabel))
        bad += s"$what: restrict violated"
      if (ids.groupBy(id => c.labels(id.toInt)).exists(_._2.length > Gen.CrowdCap))
        bad += s"$what: crowding cap violated"
    }
    bad.result()
  }

  /** A freshly opened handle serves every id once, at version 1. */
  def finalCheck(run: Run, dir: String, n: Int): Unit =
    run.attempt("final read") {
      val rows = Serving.open(run.spark, dir).data
        .select("vec_id", "version").distinct().collect()
      val ids = rows.map(_.getLong(0))
      val bad = Seq(
        if (ids.distinct.length != ids.length) Some("an id served twice") else None,
        if (ids.length != n) Some(s"${ids.length} ids served, want $n") else None,
        if (rows.exists(_.getLong(1) != 1L)) Some("wrong version") else None)
      ((), bad.flatten)
    }

  /** Tier rotation: each batch call goes to the next tier. */
  val Tiers = Seq("raw", "sq8", "pq", "bq")
  /** Single requests sent after each batch call. */
  val SinglesPerBatch = 3
  /** Untimed requests before the window: in a fresh JVM single-request
    * latency falls by a third over its first ~20 calls, and a median
    * taken on that slope moves with how fast the JIT got there. */
  val WarmSingles = 12
  val QueryBatches = 4

  def run(run: Run): Outcome = {
    val in = inputs(run.seed, QueryBatches * BatchSize)
    val c = in.corpus
    // one deployment: from a fresh JVM it costs ~20 s of every run, and
    // a run's time budget has no room for a second (README.md)
    val (l, setupMs) = run.timed(run.tr.request("setup")(deploy(run, c, "layout")))
    val heapSetup = run.retainedHeapMb()
    val np = nProbe(l)
    val meta = Some((l.meta, "vec_id"))
    val frames = (0 until QueryBatches).map { b =>
      val rows = (0 until BatchSize).map { j =>
        val q = b * BatchSize + j
        Row(q.toLong, in.queries(q).toSeq)
      }
      run.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("qid", LongType),
          StructField("qv", ArrayType(DoubleType, containsNull = false)))))
    }

    /** One full-shape single request: (latency ms, recall). */
    def single(i: Int): Option[(Double, Double)] = {
      val qi = i % in.queries.length
      val q = in.queries(qi)
      run.attempt(s"single request $i") {
        val (rows, ms) = run.timed(run.tr.request("request.single") {
          val df = run.tr.span("serving.plan")(
            l.raw.search(q, np, Gen.K, restricts, crowding, meta))
          run.tr.span("serving.exec")(df.collect())
        })
        val ids = rows.map(_.getAs[Long]("vec_id")).toSeq
        val scores = rows.map(_.getAs[Double]("score")).toSeq
        val titles = rows.map(_.getAs[String]("title")).toSeq
        val bad = rankChecks(c, ids, scores, s"request $i") ++
          (if (ids.zip(titles).exists { case (id, t) => t != title(id) })
            Seq(s"request $i: metadata missing or wrong") else Nil) ++
          (if (ids.zip(scores).exists { case (id, s) =>
              math.abs(s - Gen.dot(c.vecs(id.toInt), q)) > 1e-9 * (1 + math.abs(s)) })
            Seq(s"request $i: score is not the exact dot") else Nil)
        ((ms, Gen.recall(Seq(ids), Seq(in.truth(qi).toSeq))), bad)
      }
    }

    def call(tier: String, qf: DataFrame): DataFrame = tier match {
      case "raw" => l.raw.searchBatch(qf, "qid", "qv", np, Gen.K, restricts, crowding, None)
      case "sq8" => l.sq8.searchBatchSq(qf, "qid", "qv", np, Gen.K, restricts, crowding)
      case "pq" => l.pq.searchBatchAdc(qf, "qid", "qv", np, Gen.K, restricts, crowding)
      case "bq" => l.raw.searchBatchBqRerank(qf, "qid", "qv", np, Shortlist, Gen.K,
        restricts, crowding)
    }
    val scoreCol = Map("raw" -> "score", "sq8" -> "sq_score",
      "pq" -> "adc_score", "bq" -> "score")

    /** One 64-query batch on the i-th tier: (tier, latency ms, recall). */
    def batch(i: Int): Option[(String, Double, Double)] = {
      val tier = Tiers(i % Tiers.length)
      val b = (i / Tiers.length) % QueryBatches
      run.attempt(s"$tier batch $i") {
        val (rows, ms) = run.timed(run.tr.request(s"request.$tier") {
          val df = run.tr.span("serving.plan")(call(tier, frames(b)))
          run.tr.span("serving.exec")(df.collect())
        })
        val byQ = rows.groupBy(_.getAs[Long]("qid"))
        val bad = Seq.newBuilder[String]
        val got = (0 until BatchSize).map { j =>
          val q = (b * BatchSize + j).toLong
          val rs = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getAs[Number]("rn").intValue)
          val ids = rs.map(_.getAs[Long]("vec_id")).toSeq
          bad ++= rankChecks(c, ids, rs.map(_.getAs[Double](scoreCol(tier))).toSeq,
            s"$tier query $q")
          if (rs.map(_.getAs[Number]("rn").intValue).toSeq != (1 to rs.length))
            bad += s"$tier query $q: ranks not 1..${rs.length}"
          ids
        }
        if (byQ.size != BatchSize) bad += s"$tier: ${byQ.size} queries answered"
        val truth = (0 until BatchSize).map(j => in.truth(b * BatchSize + j).toSeq)
        ((tier, ms, Gen.recall(got, truth)), bad.result())
      }
    }

    // warm-up: one batch per tier, then single requests
    Tiers.indices.foreach(batch)
    (0 until WarmSingles).foreach(i => single(in.queries.length - 1 - i))
    val singles = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    // whole tier rotations only, so every run's batches weigh the tiers
    // alike; at least two, as many as a 10 s window holds on a fast run
    run.measure({ i =>
      batch(i).foreach(batches += _)
      (0 until SinglesPerBatch).foreach(j => single(i * SinglesPerBatch + j).foreach(singles += _))
    }, Tiers.length, minGroups = 2)
    val heapEnd = run.retainedHeapMb()
    val layoutBytes = l.dirs.map(Run.bytesUnder).sum
    finalCheck(run, l.dirs.head, c.size)

    val p50 = if (singles.isEmpty) 0.0 else Run.median(singles.map(_._1).toSeq)
    // recall over every answered query: singles count once, batches 64 times
    val recalls = singles.map(_._2) ++ batches.flatMap(b => Seq.fill(BatchSize)(b._3))
    def tierRecall(t: String) = Run.mean(batches.filter(_._1 == t).map(_._3).toSeq)
    val perVec = (d: String) => Run.bytesUnder(d).toDouble / c.size
    Outcome(
      e2e = Seq(
        "setup_s" -> setupMs / 1000,
        "request_p50_ms" -> p50,
        "throughput_per_s" -> batches.length * BatchSize / (batches.map(_._2).sum / 1000),
        "recall_at_10" -> Run.mean(recalls.toSeq),
        "layout_mb" -> layoutBytes / 1048576.0,
        "retained_heap_mb" -> math.max(heapSetup, heapEnd)),
      direct = Tiers.map(t => s"serving.$t.recall_at_10" -> tierRecall(t)).toMap ++ Map(
        "serving.single.recall_at_10" -> Run.mean(singles.map(_._2).toSeq),
        "ivf.leaves" -> l.raw.numLeaves.toDouble,
        "ivf.max_leaf_rows" -> l.model.stats.maxLeafRows.toDouble,
        "layout.bytes_per_vector.raw" -> perVec(l.dirs(0)),
        "layout.bytes_per_vector.sq8" -> perVec(l.dirs(2)),
        "layout.bytes_per_vector.pq" -> perVec(l.dirs(3)),
        "trace.request_p50_ms" -> p50,
        Layers.Results -> (singles.length * Gen.K).toDouble,
        Layers.QueriesPerRequest -> BatchSize.toDouble),
      requestMs = singles.map(_._1).toSeq)
  }
}
