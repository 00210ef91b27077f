package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf).cache()

  test("exact dedup collapses planted duplicates") {
    val dup = docs.limit(5).unionAll(docs.limit(5))
    val out = Dedup.exactFirst(dup, md5(col("text")), col("doc_id"))
    assert(out.count() == 5)
  }

  test("jaccard of a doc with itself is 1.0") {
    val two = docs.limit(3)
      .select(col("doc_id"), col("text"))
      .unionAll(docs.limit(3)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
    val pairs = Dedup.jaccardPairs(two, "doc_id", "text", 0.99)
      .filter(col("db") === col("da") + 1000)
    assert(pairs.count() == 3)
    assert(pairs.select("jaccard").as[Double].collect().forall(_ == 1.0))
  }

  test("LSH candidates cover all very-similar pairs (recall at J>=0.8)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val cand = Dedup.minhashCandidates(sig, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(cand),
      s"missed: ${exact.diff(cand).take(5)} of ${exact.size}")
  }

  test("connected components: chain of pairs collapses to one cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("da", "db")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("pointer doubling collapses a 200-node chain in O(log n) rounds") {
    // min-label propagation alone would need ~200 rounds; pointer
    // doubling must finish well inside 12
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("da", "db")
    val cc = Dedup.connectedComponents(chain, maxIter = 12)
      .as[(Long, Long)].collect()
    assert(cc.length == 200)
    assert(cc.forall(_._2 == 0L), "whole chain must share the min label")
  }

  test("every near-dup pair lands in one cluster") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val cand = Dedup.minhashCandidates(sig, "doc_id").cache()
    val cc = Dedup.connectedComponents(cand)
      .as[(Long, Long)].collect().toMap
    val bad = cand.as[(Long, Long)].collect()
      .filter { case (a, b) => cc(a) != cc(b) }
    assert(bad.isEmpty, s"pairs split across clusters: ${bad.take(3).toSeq}")
  }

  test("banded simhash pairs == brute-force pairs at hamming <= 3") {
    val sim = Dedup.simhash(docs, "doc_id", "text").cache()
    val brute = Dedup.simhashPairs(sim, "doc_id", 3)
      .as[(Long, Long, Long)].collect().toSet
    val banded = Dedup.simhashBandedPairs(sim, "doc_id", 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute,
      s"banded missed ${brute.diff(banded).take(3)} / extra ${banded.diff(brute).take(3)}")
    assert(brute.nonEmpty) // the equality must not hold vacuously
  }

  test("shingle df cap bounds the inverted-index blowup") {
    // 40 docs sharing one ultra-common shingle ("zz zz zz" in all of
    // them) but otherwise disjoint: uncapped, the common shingle alone
    // contributes C(40,2)=780 join rows; capped at df<=10 it is
    // dropped and no pair survives.
    val syn = (0 until 40).map { i =>
      (i.toLong, s"zz zz zz unique$i word$i token$i item$i thing$i")
    }.toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(syn, "doc_id", "text", 0.01, maxDocFreq = 10)
    assert(capped.count() == 0)
    val uncapped = Dedup.jaccardPairs(syn, "doc_id", "text", 0.01)
    assert(uncapped.count() == 780L)
  }

  test("connected components: no per-round convergence-count action") {
    // The old implementation ran a join + .count() every round purely
    // to detect convergence; the accumulator fold removed it. Assert
    // no Dataset `count` action fires inside connectedComponents
    // (the per-round action is the localCheckpoint itself).
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.add(funcName); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val pairs = (1L until 7L).map(i => (i, i + 1)).toDF("da", "db")
      .localCheckpoint() // materialize input outside the listened window
    spark.listenerManager.register(ql)
    try {
      val cc = Dedup.connectedComponents(pairs).collect()
      Thread.sleep(500) // listener bus is async — drain before reading
      assert(cc.forall(_.getLong(1) == 1L))
      val counts = actions.toArray.count(_ == "count")
      assert(counts == 0, s"convergence ran $counts count() actions")
    } finally spark.listenerManager.unregister(ql)
  }

  test("SRP-LSH finds near-identical embedding pairs with high recall") {
    import graft.operators.SrpLsh
    import graft.pipeline.SparseEmbed
    val dv = SparseEmbed.embedShingles(docs, "doc_id", "text").cache()
    // brute-force ground truth at the same integer cosine >= 0.9
    val a = dv.select(col("doc_id").as("da"), col("idx"), col("w").as("wa"))
    val b = dv.select(col("doc_id").as("db"), col("idx"), col("w").as("wb"))
    val norms = dv.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val brute = a.join(b, "idx").filter(col("da") < col("db"))
      .groupBy("da", "db").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("doc_id").as("da"), col("n2").as("na")), "da")
      .join(norms.select(col("doc_id").as("db"), col("n2").as("nb")), "db")
      .filter(col("dot") > 0 &&
        lit(100L) * col("dot") * col("dot") >= lit(81L) * col("na") * col("nb"))
      .select("da", "db").as[(Long, Long)].collect().toSet
    val banded = SrpLsh.nearDupPairs(dv, "doc_id")
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(banded.subsetOf(brute), "banded+verified must be a subset")
    val recall = banded.size.toDouble / brute.size
    assert(recall >= 0.7, s"SRP recall = $recall (${banded.size}/${brute.size})")
  }

  test("spanProfile: a copied token run marks BOTH docs, within-doc " +
      "repeats count (ExactSubstr semantics), sub-window docs " +
      "profile as zero windows") {
    import spark.implicits._
    // doc 1 and doc 2 share a 10-token run (3 duplicated 8-windows
    // each); doc 3 repeats its own 8-token run twice (within-doc);
    // doc 4 is unique; doc 5 is below the window width
    val run = (1 to 10).map(i => s"shared$i").mkString(" ")
    val self = (1 to 8).map(i => s"self$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $run gamma one"),
      (2L, s"$run delta epsilon two"),
      (3L, s"$self junk1 junk2 $self"),
      (4L, (1 to 20).map(i => s"uniq$i").mkString(" ")),
      (5L, "only seven tokens live in here now")).toDF("doc_id", "text")
    val pd = Dedup.spanProfile(corpus, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("dup_windows"))).toMap
    // the shared 10-token run yields 3 duplicated 8-windows per doc
    assert(pd(1L)._2 == 3 && pd(2L)._2 == 3,
      s"cross-doc run must mark both docs: $pd")
    // within-doc: the repeated 8-run's window occurs twice → both
    // occurrences duplicated
    assert(pd(3L)._2 == 2, s"within-doc repeat must count: $pd")
    assert(pd(4L)._2 == 0, s"unique doc must be clean: $pd")
    assert(!pd.contains(5L) || pd(5L)._1 == 0,
      "a doc below the window width has no windows")
    // window accounting: doc 4 has 20 tokens → 13 windows
    assert(pd(4L)._1 == 13)
  }

  test("spanCut: the canonical (smallest doc, pos) copy keeps its " +
      "tokens, every other copy is cut, overlapping marks merge") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"shared$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $run gamma one"),      // canonical copy lives here
      (2L, s"$run delta epsilon two"),          // loses the whole 10-run
      (3L, (1 to 20).map(i => s"uniq$i").mkString(" "))).toDF("doc_id", "text")
    val cut = Dedup.spanCut(corpus, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cut_tokens")).toMap
    // doc 1 holds the canonical occurrences (smallest doc_id) → 0 cut;
    // doc 2's three duplicated windows cover positions 0..9 → 10
    // tokens cut (overlap merged, not 3×8)
    assert(!cut.contains(1L), s"canonical doc must keep everything: $cut")
    assert(cut(2L) == 10L, s"overlapping windows must merge to 10: $cut")
    assert(!cut.contains(3L))
  }

  test("spanRewrite: canonical doc keeps its text verbatim " +
      "(whitespace-normalized), duplicate occurrences lose exactly " +
      "the merged span positions, sub-window and fully-cut docs " +
      "behave") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"shared$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $run gamma one"),  // canonical copy lives here
      (2L, s"$run delta epsilon two"),     // loses the 10-run, keeps tail
      (3L, (1 to 20).map(i => s"uniq$i").mkString(" ")), // untouched
      (4L, "only seven tokens live in here now"),        // < w: pass-thru
      (5L, run)                            // every token cut → ""
    ).toDF("doc_id", "text")
    val rw = Dedup.spanRewrite(corpus, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rw(1L) == s"alpha beta $run gamma one",
      s"canonical doc must keep everything: ${rw(1L)}")
    // doc 2: positions 0..9 (the overlap-merged run) are cut; the
    // tail survives in order
    assert(rw(2L) == "delta epsilon two",
      s"duplicate occurrence must lose the merged span: ${rw(2L)}")
    assert(rw(3L) == (1 to 20).map(i => s"uniq$i").mkString(" "))
    assert(rw(4L) == "only seven tokens live in here now",
      "a sub-window doc passes through uncut")
    assert(rw(5L) == "", s"a fully-duplicated doc rewrites empty: $rw")
  }

  test("spanProfileAgainst: a batch window duplicates iff it is in " +
      "the store OR repeats within the batch; store docs never " +
      "re-profile") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"stored$i").mkString(" ")
    val store = Dedup.spanFingerprints(
      Seq((1L, s"prefix $run suffix tail")).toDF("doc_id", "text"),
      "doc_id", "text", 8)
    val batchRun = (1 to 8).map(i => s"batchy$i").mkString(" ")
    val batch = Seq(
      (10L, s"$run xx yy"),                 // hits the store → 1 dup
      (11L, s"$batchRun a1 a2 $batchRun"),  // within-batch repeat → 2
      (12L, (1 to 12).map(i => s"fresh$i").mkString(" "))) // clean
      .toDF("doc_id", "text")
    val pd = Dedup.spanProfileAgainst(store, batch, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("dup_windows"))).toMap
    assert(pd(10L)._2 == 1, s"store hit must mark: $pd")
    assert(pd(11L)._2 == 2, s"within-batch repeat must mark both: $pd")
    assert(pd(12L)._2 == 0, s"fresh doc must be clean: $pd")
    assert(pd.keySet == Set(10L, 11L, 12L),
      "output is batch docs only — the store never re-profiles")
  }

  test("minhashCandidatesWith: r=2 is exactly minhashCandidates, " +
      "candidate sets are monotone in band width, bad r refuses") {
    import spark.implicits._
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
      .localCheckpoint()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val default = pairs(Dedup.minhashCandidates(sig, "doc_id"))
    assert(pairs(Dedup.minhashCandidatesWith(sig, "doc_id", 2)) == default)
    // narrower bands can only ADD candidates (any r-run match implies
    // a sub-run match at r/2), wider only remove
    val c1 = pairs(Dedup.minhashCandidatesWith(sig, "doc_id", 1))
    val c4 = pairs(Dedup.minhashCandidatesWith(sig, "doc_id", 4))
    val c8 = pairs(Dedup.minhashCandidatesWith(sig, "doc_id", 8))
    assert(default.subsetOf(c1) && c4.subsetOf(default) && c8.subsetOf(c4),
      s"band-width monotonicity broken: ${c1.size}/${default.size}/" +
        s"${c4.size}/${c8.size}")
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidatesWith(sig, "doc_id", 3)
    }
    ()
  }

  test("decontaminateWindows: a train doc containing an eval 8-run " +
      "is flagged with the exact window count, clean docs stay clean, " +
      "and the output is bit-independent of the Bloom stage") {
    import spark.implicits._
    val evalRun = (1 to 10).map(i => s"bench$i").mkString(" ")
    val evalDocs = Seq(
      (100L, s"qa pair $evalRun answer end"),
      (101L, (1 to 15).map(i => s"held$i").mkString(" "))
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"intro text $evalRun outro tail"), // carries the 10-run → 3 dup windows
      (2L, (1 to 20).map(i => s"clean$i").mkString(" ")),
      (3L, "below the window width here")      // < w → no windows
    ).toDF("doc_id", "text")
    val pd = Dedup.decontaminateWindows(train, evalDocs,
      "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("contam_windows"),
          r.getAs[Boolean]("clean"))).toMap
    assert(pd(1L)._2 == 3 && !pd(1L)._3,
      s"the eval 10-run must flag 3 train windows: $pd")
    assert(pd(2L)._2 == 0 && pd(2L)._3, s"clean doc must stay clean: $pd")
    assert(!pd.contains(3L), "a sub-window doc has no window rows")
    // Bloom-independence: the exact verify join makes the output
    // identical to the no-Bloom exact decision — a false positive can
    // never mark a doc
    val evalFps = Dedup.spanFingerprints(evalDocs, "doc_id", "text", 8)
    val tw = train
      .select(col("doc_id"),
        graft.functions.text.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(graft.functions.text.shinglesOfTokens(col("tk"), 8))
          .as("win"))
      .select(col("doc_id"),
        graft.functions.text.md5Binary(col("win")).as("fp"))
    val exact = tw.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"))
      .join(tw.join(evalFps, Seq("fp"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("contam_windows")),
        Seq("doc_id"), "left")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_windows"),
          Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L))).toMap
    assert(pd.view.mapValues(v => (v._1, v._2)).toMap == exact,
      s"bloom-gated output must equal the exact decision: $pd vs $exact")
    // the same with broadcast joins off: the verify join shuffles every
    // train window, the regime the pre-filter is built for
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled = try Dedup.decontaminateWindows(train, evalDocs,
        "doc_id", "text", 8).collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("contam_windows"))).toMap
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    assert(shuffled == exact,
      s"shuffled bloom-gated output must equal the exact decision: $shuffled")
    // the Bloom stage must actually be IN the plan (pre-filtering the
    // train scan), not optimized away
    val plan = Dedup.decontaminateWindows(train, evalDocs,
      "doc_id", "text", 8).queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom pre-filter missing from the plan:\n$plan")
  }

  test("decontaminateWindows: an eval set with no windows (all docs " +
      "below w tokens, or none) marks nothing and does not crash on " +
      "the null Bloom aggregate") {
    import spark.implicits._
    val train = Seq(
      (1L, (1 to 12).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    for (evalDocs <- Seq(
        Seq((100L, "only three tokens")).toDF("doc_id", "text"),
        Seq.empty[(Long, String)].toDF("doc_id", "text"))) {
      val pd = Dedup.decontaminateWindows(train, evalDocs,
        "doc_id", "text", 8).collect()
      assert(pd.length == 1 && pd.head.getAs[Long]("contam_windows") == 0L
        && pd.head.getAs[Boolean]("clean"),
        s"empty eval window set must mark nothing: ${pd.toSeq}")
    }
  }

  test("cross-source overlap counts DISTINCT shared windows once " +
      "regardless of how many docs carry them") {
    import spark.implicits._
    val run = (1 to 9).map(i => s"sh$i").mkString(" ") // 2 windows at w=8
    val docs = Seq(
      (1L, "sA", s"x1 x2 $run"),
      (2L, "sA", s"y1 $run y2"),   // same windows AGAIN in sA
      (3L, "sB", s"$run z1 z2"),
      (4L, "sB", (1 to 12).map(i => s"b$i").mkString(" ")),
      (5L, "sC", (1 to 12).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    // run the gate body over a scratch documents table
    val dir = java.nio.file.Files
      .createTempDirectory("graft_overlap").toString
    docs.withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.Registry.all.find(_.name == "d_source_overlap")
      .get.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("shared_windows"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"))).toMap
    // the 9-token run = 2 distinct windows, shared once per pair even
    // though sA carries them in two docs; sC shares nothing
    assert(got.keySet == Set(("sA", "sB")), s"$got")
    val (shared, na, nb) = got(("sA", "sB"))
    assert(shared == 2, s"2 distinct shared windows, counted once: $got")
    // sA: docs 1,2 both contribute the run's 2 windows (distinct) +
    // their seam windows; sB: run + doc3 seams + doc4's 5 windows
    assert(na > 2 && nb > 2)
  }

  test("deconDelta: only windows NEW in v2 count — v1 hits and " +
      "v1-repeated windows are excluded, multiplicity is exact") {
    import spark.implicits._
    val runA = (1 to 8).map(i => s"va$i").mkString(" ")  // v1 only
    val runB = (1 to 8).map(i => s"vb$i").mkString(" ")  // v2 only
    val runC = (1 to 8).map(i => s"vc$i").mkString(" ")  // in BOTH
    val train = Seq(
      (1L, s"x1 x2 $runA y1 y2"),          // old hit, no new
      (2L, s"$runB z1 z2 $runB"),           // new hit, ×2 occurrences
      (3L, s"w1 $runC w2"),                 // v2 repeats v1 → NOT new
      (4L, (1 to 15).map(i => s"cl$i").mkString(" "))
    ).toDF("doc_id", "text")
    val v1 = Dedup.spanFingerprints(
      Seq((100L, s"$runA mid $runC")).toDF("doc_id", "text"),
      "doc_id", "text", 8)
    val v2 = Dedup.spanFingerprints(
      Seq((200L, s"$runB mid2 $runC")).toDF("doc_id", "text"),
      "doc_id", "text", 8)
    val idx = Dedup.spanWindowIndex(train, "doc_id", "text", 8)
    val got = Dedup.deconDelta(idx, v1, v2, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Long](1)).toMap
    assert(got == Map(2L -> 2L),
      s"only doc 2's two new-window occurrences count: $got")
  }

  test("identical texts get identical simhash, hamming 0") {
    val sim = Dedup.simhash(
      docs.limit(2).unionAll(docs.limit(2)
        .select((col("doc_id") + 1000).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))),
      "doc_id", "text")
    val pairs = Dedup.simhashPairs(sim, "doc_id", 0)
      .filter(col("db") === col("da") + 1000)
    assert(pairs.count() == 2)
  }
}
