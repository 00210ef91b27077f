package graft.perfbench

import java.util.Random

/** Seeded inputs for the serving benchmark, built in plain Scala so the
  * program under test receives only generated data, and the exact
  * answers are computed here without it.
  *
  * Every generator takes the run's seed; the same seed gives the same
  * values bit for bit (java.util.Random has a specified algorithm).
  */
object Gen {

  /** PQ is fixed at 8 subspaces of 8 dims, so every corpus is 64-d. */
  val Dim = 64
  /** Serving requests ask for the reference's k. */
  val K = 10
  /** Labels 0..NumLabels-1; the restrict keeps label >= RestrictMinLabel. */
  val NumLabels = 10
  val RestrictMinLabel = 2
  /** Crowding: at most CrowdCap results share a label. */
  val CrowdCap = 3

  /** A vector corpus: `vecs(i)` has id `i` and label `labels(i)`. */
  final case class Corpus(vecs: Array[Array[Double]], labels: Array[Int]) {
    def size: Int = vecs.length
  }

  /** Clustered Gaussian corpus: `clusters` centres drawn N(0, 1) per
    * coordinate, each vector = its centre + `noise` · N(0, 1). The
    * noise-to-centre ratio sets how often a true neighbour sits in a
    * leaf the probe does not visit, which is what makes recall movable.
    */
  def corpus(seed: Long, n: Int, clusters: Int, noise: Double): Corpus = {
    require(n > 0, s"corpus: need at least one vector, got n=$n")
    require(clusters > 0, s"corpus: need at least one cluster, got $clusters")
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 1L)
    val centres = Array.fill(clusters, Dim)(rnd.nextGaussian())
    val labels = new Array[Int](n)
    val vecs = Array.tabulate(n) { i =>
      val c = centres(rnd.nextInt(clusters))
      labels(i) = rnd.nextInt(NumLabels)
      Array.tabulate(Dim)(j => c(j) + noise * rnd.nextGaussian())
    }
    Corpus(vecs, labels)
  }

  /** Queries from the corpus distribution: a random corpus vector plus
    * fresh noise, so a query lands near, not on, its cluster's points.
    */
  def queries(seed: Long, c: Corpus, n: Int, noise: Double): Array[Array[Double]] = {
    require(n > 0, s"queries: need at least one query, got n=$n")
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 2L)
    Array.fill(n) {
      val base = c.vecs(rnd.nextInt(c.size))
      Array.tabulate(Dim)(j => base(j) + noise * rnd.nextGaussian())
    }
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact top-k ids by (score desc, id asc) over the ids `allowed`
    * admits, keeping at most `cap` per value of `group` — the serving
    * contract of restricts + crowding, computed by brute force.
    */
  def exactTopK(vecs: Int => Array[Double], ids: Array[Long],
      query: Array[Double], k: Int, allowed: Long => Boolean,
      group: Long => Int, cap: Int): Array[Long] = {
    val scored = ids.iterator.filter(allowed)
      .map(id => (id, dot(vecs(id.toInt), query))).toArray
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    val taken = scala.collection.mutable.Map.empty[Int, Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val it = scored.iterator
    while (out.length < k && it.hasNext) {
      val (id, _) = it.next()
      val g = group(id)
      val n = taken.getOrElse(g, 0)
      if (n < cap) { taken(g) = n + 1; out += id }
    }
    out.toArray
  }

  /** Exact serving answers for the vector corpus: restrict label >=
    * RestrictMinLabel, crowding cap CrowdCap per label, k = K.
    */
  def groundTruth(c: Corpus, qs: Array[Array[Double]]): Array[Array[Long]] = {
    val ids = Array.tabulate(c.size)(_.toLong)
    qs.map(q => exactTopK(i => c.vecs(i), ids, q, K,
      id => c.labels(id.toInt) >= RestrictMinLabel,
      id => c.labels(id.toInt), CrowdCap))
  }

  /** Word-salad documents: `n` texts of 40-80 tokens over a `vocab`-word
    * vocabulary ("w0" … ), the shape of the testdata documents table.
    */
  def docs(seed: Long, n: Int, vocab: Int = 3000): Array[String] = {
    require(n > 0, s"docs: need at least one document, got n=$n")
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 3L)
    Array.fill(n) {
      val len = 40 + rnd.nextInt(41)
      Iterator.fill(len)("w" + rnd.nextInt(vocab)).mkString(" ")
    }
  }

  /** One upsert batch: `size` distinct doc ids, each given a new text
    * (a fresh word salad) that carries the batch's `term`, a token no
    * other batch and no base document contains.
    */
  final case class Upsert(term: String, ids: Array[Long], texts: Array[String])

  def upsert(seed: Long, batch: Int, nDocs: Int, size: Int,
      vocab: Int = 3000): Upsert = {
    require(size > 0, s"upsert: empty batch (size=$size)")
    require(size <= nDocs, s"upsert: batch of $size exceeds $nDocs docs")
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 1000L + batch)
    val term = s"u${java.lang.Long.toHexString(seed & 0xffffffL)}b$batch"
    val ids = Iterator.continually(rnd.nextInt(nDocs).toLong).distinct
      .take(size).toArray
    val texts = ids.map { _ =>
      val len = 40 + rnd.nextInt(41)
      val words = Array.fill(len)("w" + rnd.nextInt(vocab))
      words(rnd.nextInt(len)) = term
      words.mkString(" ")
    }
    Upsert(term, ids, texts)
  }

  /** Exact recall@k of `got` against `truth`, averaged over queries. */
  def recall(got: Seq[Seq[Long]], truth: Seq[Seq[Long]]): Double = {
    require(got.length == truth.length && truth.nonEmpty,
      s"recall: ${got.length} answers for ${truth.length} queries")
    got.zip(truth).map { case (g, t) =>
      g.toSet.intersect(t.toSet).size.toDouble / t.length
    }.sum / truth.length
  }
}
