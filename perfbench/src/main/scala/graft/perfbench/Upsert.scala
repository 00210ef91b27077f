package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.text
import graft.operators.{IvfIndex, Lexical, Serving, ServingManifest}
import graft.pipeline.FeatureHashEmbedder
import graft.streaming.IndexMaintenance

/** upsert_hybrid: a seeded document corpus ingested through the
  * pipeline (token check → embed → IVF build → write → lexical
  * attach); then cycles of a 20-doc upsert batch (token check, embed,
  * `appendToServing` with its text), a fresh `Serving.open` +
  * `searchHybrid` on the batch's unique term, and a `maintain` sweep
  * after every MaintainEvery-th cycle. A cycle's latency is the write
  * (embed → acknowledgement) plus the fresh read; the sweep counts
  * toward throughput only.
  */
object Upsert {

  val NumDocs = 5000
  val BatchDocs = 20
  /** A maintain sweep follows every MaintainEvery-th cycle, after its
    * read (so reads see a non-empty delta registry); its delta
    * threshold is under one period's upserts, so every sweep compacts. */
  val MaintainEvery = 2
  val MaxDeltaRows = 30L
  val LeafFraction = 0.10
  val RecallQueries = 64

  private val embedder = new FeatureHashEmbedder(dim = Gen.Dim)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  private def docsDf(run: Run, ids: Seq[Long], texts: Seq[String],
      version: Long): DataFrame = {
    val rows = ids.zip(texts).map { case (i, t) => Row(i, t, version) }
    run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema)
  }

  /** The pipeline's validation: no document may exceed the token cap. */
  private def tokenCheck(run: Run, docs: DataFrame): Unit = run.tr.span("pipeline.token_check") {
    val over = docs.filter(text.tokenCount(col("text")) > text.MaxTokens).count()
    require(over == 0, s"$over document(s) over the ${text.MaxTokens}-token cap")
  }

  /** Embedded (doc_id, embedding double[64], version, text), materialized. */
  private def embed(run: Run, docs: DataFrame): DataFrame = run.tr.span("pipeline.embed") {
    embedder.transform(docs, "text")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .select("doc_id", "embedding", "version", "text")
      .localCheckpoint(true)
  }

  private def open(run: Run, dir: String): Serving =
    run.tr.span("manifest.open")(Serving.open(run.spark, dir, id = "doc_id"))

  private def deploy(run: Run, texts: Array[String], dir: String): IvfIndex.Model = {
    val docs = docsDf(run, texts.indices.map(_.toLong), texts.toSeq, 1L)
    tokenCheck(run, docs)
    val emb = embed(run, docs)
    val (indexed, model) = run.tr.span("ivf.build") {
      IvfIndex.build(emb.drop("text"), "doc_id", "embedding",
        math.max(1, texts.length / 500), seed = run.seed)
    }
    run.tr.span("ivf.write")(IvfIndex.write(indexed, dir, model))
    run.tr.span("lexical.attach") {
      Lexical.attach(run.spark, dir, docs.select("doc_id", "text"), "doc_id",
        "text", Some("doc_id"))
    }
    open(run, dir)
    model
  }

  private def vec(t: String): Array[Double] = embedder.embedOne(t).map(_.toDouble)

  def nProbe(h: Serving): Int = math.max(1, math.ceil(h.numLeaves * LeafFraction).toInt)

  def run(run: Run): Outcome = {
    val base = Gen.docs(run.seed, NumDocs)
    val dir = run.dir("layout")
    // one ingest, as in Serve: the run budget has no room for a second
    val (model, setupMs) = run.timed(run.tr.request("setup")(deploy(run, base, dir)))
    val heapSetup = run.retainedHeapMb()

    // what the client has acknowledged: text and version per doc id
    val live = base.clone()
    val version = Array.fill(NumDocs)(1L)
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    val deltaRows = mutable.ArrayBuffer.empty[Double]
    val terms = mutable.ArrayBuffer.empty[String]
    var compactions, rowsAcked = 0

    /** Write one batch (embed → acknowledgement), read it back (open +
      * hybrid), and sweep after every MaintainEvery-th cycle. */
    def cycle(i: Int): Unit = {
      val u = Gen.upsert(run.seed, i, NumDocs, BatchDocs)
      val v = i + 2L
      val batch = docsDf(run, u.ids.toSeq, u.texts.toSeq, v)
      val wrote = run.attempt(s"write $i") {
        tokenCheck(run, batch)
        val (_, ms) = run.timed(run.tr.request("request.write") {
          val emb = embed(run, batch)
          run.tr.span("maintenance.append") {
            IndexMaintenance.appendToServing(run.spark, dir, emb, "doc_id",
              "embedding", "version", textCol = Some("text"))
          }
        })
        (ms, Nil)
      }
      wrote.foreach { writeMs =>
        rowsAcked += u.ids.length
        terms += u.term
        u.ids.zip(u.texts).foreach { case (id, t) =>
          live(id.toInt) = t; version(id.toInt) = v }
        val q = vec(u.texts.head)
        run.attempt(s"fresh read $i") {
          val (rows, ms) = run.timed(run.tr.request("request.read") {
            val h = open(run, dir)
            val df = run.tr.span("lexical.hybrid_plan") {
              h.searchHybrid(Seq(u.term), q, nProbe(h), kLex = BatchDocs,
                kDense = BatchDocs, kPool = 10, k = 5)
            }
            run.tr.span("lexical.hybrid_exec")(df.collect())
          })
          val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
          val rrf = rows.map(_.getAs[Double]("rrf")).toSeq
          val ranks = rows.map(_.getAs[Number]("rank").intValue).toSeq
          val bad = Seq(
            if (ids.isEmpty || ids.length > 10) Some(s"${ids.length} fused rows") else None,
            if (ranks != (1 to ids.length)) Some("ranks not 1..n") else None,
            if (!Run.nonIncreasing(rrf)) Some("fused scores increase") else None,
            if (!ids.contains(u.ids.head)) Some("the written doc is not found") else None,
            if (ids.exists(id => id < 0 || id >= NumDocs)) Some("unknown id") else None)
          (ms, bad.flatten)
        }.foreach(readMs => cycleMs += writeMs + readMs)
        if ((i + 1) % MaintainEvery == 0) run.attempt(s"maintain $i") {
          val rep = run.tr.request("maintenance.maintain") {
            IndexMaintenance.maintain(run.spark, dir, "doc_id", "embedding",
              "version", IndexMaintenance.MaintenancePolicy(
                maxLeafSize = IvfIndex.DefaultMaxLeafSize,
                maxDeltaRows = MaxDeltaRows))
          }
          deltaRows += rep.deltaRows.toDouble
          if (rep.compacted) compactions += 1
          ((), if (rep.lexicalStale == 1) Seq("sweep left the lexical sidecar stale") else Nil)
        }
      }
    }

    // whole maintenance periods only, so every run's throughput carries
    // the same share of sweeps; the first cycle runs on a cold JVM, as
    // a process's first write does (no budget for an untimed one)
    val wall = run.measure(cycle, MaintainEvery)
    val heapEnd = run.retainedHeapMb()
    val layoutBytes = Run.bytesUnder(dir)

    // read-your-writes on the lexical sidecar: every doc a batch term
    // still lives in scores for it, and no other doc does (one lookup
    // for every batch term, since each doc's live text holds at most one)
    run.attempt("lexical scores") {
      val got = run.tr.request("lexical.score") {
        Serving.open(run.spark, dir, id = "doc_id").lexicalScores(terms.toSeq).collect()
      }.map(_.getAs[Long]("doc_id")).toSet
      val termSet = terms.toSet
      val want = live.indices.filter(i => live(i).split(' ').exists(termSet))
        .map(_.toLong).toSet
      ((), if (got != want) Seq(s"batch terms score ${got.size} docs, want ${want.size}") else Nil)
    }
    // recall of a dense batch search over the live (upserted, compacted)
    // layout, against exact search over the acknowledged texts' vectors
    val rnd = new java.util.Random(run.seed)
    val qIds = Array.fill(RecallQueries)(rnd.nextInt(NumDocs).toLong)
    val liveVecs = live.map(vec)
    val allIds = Array.tabulate(NumDocs)(_.toLong)
    val truth = qIds.map(id => Gen.exactTopK(i => liveVecs(i), allIds,
      liveVecs(id.toInt), Gen.K, _ => true, id => id.toInt, 1).toSeq)
    val recall = run.attempt("recall probe") {
      val h = Serving.open(run.spark, dir, id = "doc_id")
      val qf = {
        val rows = qIds.indices.map(j => Row(j.toLong, liveVecs(qIds(j).toInt).toSeq))
        run.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(Seq(StructField("qid", LongType),
            StructField("qv", ArrayType(DoubleType, containsNull = false)))))
      }
      val rows = run.tr.request("recall.probe") {
        h.searchBatch(qf, "qid", "qv", nProbe(h), Gen.K).collect()
      }
      val byQ = rows.groupBy(_.getAs[Long]("qid"))
      val got = qIds.indices.map(j => byQ.getOrElse(j.toLong, Array.empty[Row])
        .sortBy(_.getAs[Number]("rn").intValue).map(_.getAs[Long]("doc_id")).toSeq)
      val bad = got.zipWithIndex.collect {
        case (g, j) if g.length != Gen.K => s"recall query $j: ${g.length} rows"
      }
      (Gen.recall(got, truth.toSeq), bad)
    }
    // a fresh handle serves every doc once, at its acknowledged version
    run.attempt("final read") {
      val rows = Serving.open(run.spark, dir, id = "doc_id").data
        .select("doc_id", "version").distinct().collect()
      val got = rows.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)) }
      val bad = Seq(
        if (got.size != NumDocs) Some(s"${got.size} ids served, want $NumDocs") else None,
        got.collectFirst { case (id, vs) if vs.toSeq != Seq(version(id.toInt)) =>
          s"doc $id served at versions ${vs.mkString(",")}, acknowledged ${version(id.toInt)}" })
      ((), bad.flatten)
    }

    val p50 = if (cycleMs.isEmpty) 0.0 else Run.median(cycleMs.toSeq)
    Outcome(
      e2e = Seq(
        "setup_s" -> setupMs / 1000,
        "request_p50_ms" -> p50,
        "throughput_per_s" -> rowsAcked / wall,
        "recall_at_10" -> recall.getOrElse(0.0),
        "layout_mb" -> layoutBytes / 1048576.0,
        "retained_heap_mb" -> math.max(heapSetup, heapEnd)),
      direct = Map(
        "ivf.leaves" -> model.centroids.length.toDouble,
        "ivf.max_leaf_rows" -> model.stats.maxLeafRows.toDouble,
        "manifest.log_versions" -> ServingManifest.versions(run.spark, dir).length.toDouble,
        "maintenance.delta_rows" -> Run.mean(deltaRows.toSeq),
        "maintenance.compactions" -> compactions.toDouble,
        "trace.request_p50_ms" -> p50,
        Layers.RowsAppended -> rowsAcked.toDouble,
        Layers.DocsEmbedded -> (NumDocs + rowsAcked).toDouble),
      requestMs = cycleMs.toSeq)
  }
}
