package graft.perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs: seeded, reproducible, and refusing empty
  * requests loudly.
  */
class GenSpec extends AnyFunSuite {

  /** Every input and exact answer a seed produces, as bytes. */
  private def inputBytes(seed: Long): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    val c = Gen.corpus(seed, 400, 8, 0.5)
    c.vecs.foreach(_.foreach(out.writeDouble))
    c.labels.foreach(out.writeInt)
    val qs = Gen.queries(seed, c, 20, 0.3)
    qs.foreach(_.foreach(out.writeDouble))
    Gen.groundTruth(c, qs).foreach(_.foreach(out.writeLong))
    Gen.docs(seed, 50).foreach(out.writeUTF)
    (0 until 3).foreach { b =>
      val u = Gen.upsert(seed, b, 50, 5)
      out.writeUTF(u.term)
      u.ids.foreach(out.writeLong)
      u.texts.foreach(out.writeUTF)
    }
    out.flush()
    buf.toByteArray
  }

  test("the same seed gives byte-identical inputs and ground truth") {
    assert(inputBytes(7).sameElements(inputBytes(7)))
  }

  test("a different seed gives different inputs and ground truth") {
    assert(!inputBytes(7).sameElements(inputBytes(8)))
    val (a, b) = (Gen.corpus(7, 400, 8, 0.5), Gen.corpus(8, 400, 8, 0.5))
    val (qa, qb) = (Gen.queries(7, a, 20, 0.3), Gen.queries(8, b, 20, 0.3))
    assert(!Gen.groundTruth(a, qa).map(_.toSeq).sameElements(
      Gen.groundTruth(b, qb).map(_.toSeq)))
  }

  test("every upsert batch carries its own term in every text, and no base doc does") {
    val docs = Gen.docs(3, 200)
    val us = (0 until 4).map(Gen.upsert(3, _, 200, 20))
    assert(us.map(_.term).distinct.length == us.length)
    us.foreach { u =>
      assert(u.ids.distinct.length == u.ids.length)
      assert(u.texts.forall(_.split(' ').contains(u.term)))
      assert(!docs.exists(_.split(' ').contains(u.term)))
    }
  }

  test("zero vectors, queries, docs or an empty upsert batch fail loudly") {
    val c = Gen.corpus(1, 10, 2, 0.5)
    intercept[IllegalArgumentException](Gen.corpus(1, 0, 2, 0.5))
    intercept[IllegalArgumentException](Gen.queries(1, c, 0, 0.5))
    intercept[IllegalArgumentException](Gen.docs(1, 0))
    intercept[IllegalArgumentException](Gen.upsert(1, 0, 10, 0))
    intercept[IllegalArgumentException](Gen.recall(Nil, Nil))
    intercept[IllegalArgumentException](Run.percentile(Nil, 50))
  }

  test("exact top-k honours the restrict, the crowding cap and (score, id) order") {
    // ids 0..5 on a line: score = id; labels pair them up
    val vecs = Array.tabulate(6)(i => Array(i.toDouble))
    val labels = Array(0, 0, 1, 1, 1, 2)
    val got = Gen.exactTopK(i => vecs(i), Array.tabulate(6)(_.toLong),
      Array(1.0), k = 3, allowed = _ != 5L, group = id => labels(id.toInt), cap = 1)
    // 5 is restricted away; 4 wins label 1; 1 wins label 0; label 2 only had 5
    assert(got.toSeq == Seq(4L, 1L))
    val ties = Gen.exactTopK(_ => Array(1.0), Array(3L, 1L, 2L), Array(1.0),
      k = 2, allowed = _ => true, group = _.toInt, cap = 1)
    assert(ties.toSeq == Seq(1L, 2L))
  }
}
