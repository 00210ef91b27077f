package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** Bounded top-k heap aggregate (`TypedImperativeAggregate`) — the
  * single-pass per-group top-k: each partition keeps a k-element
  * min-heap, partial heaps merge, and only k rows per group per
  * partition ever move. The window form
  * (`row_number() ≤ k` → WindowGroupLimit) must still SORT each
  * partition's group rows before limiting; the heap replaces that
  * sort with O(n log k) updates — the §7 performance option for very
  * hot groups.
  *
  * Ordering is total — (score DESC, id ASC) — so the aggregated set
  * and its output order are deterministic under any partitioning,
  * which keeps the operator oracle-checkable (the SQL replica is a
  * rank-filtered window with the identical tie-break).
  */
case class TopKByScore(score: Expression, id: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[(Double, Long)]] {

  require(k > 0, s"k must be positive, got $k")

  private type Buf = scala.collection.mutable.ArrayBuffer[(Double, Long)]

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_top_k"

  /** (a beats b) in the keep-order: higher score, then lower id. */
  private def beats(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  /** a strictly weaker than b (loses the keep-order). */
  private def weaker(a: (Double, Long), b: (Double, Long)): Boolean =
    beats(b, a)

  override def createAggregationBuffer(): Buf =
    new scala.collection.mutable.ArrayBuffer[(Double, Long)](k + 1)

  // The buffer is maintained as a binary min-heap with the WEAKEST
  // kept element at index 0: the eviction test on a full buffer is
  // O(1) and a replacement O(log k), so a group costs O(n log k) —
  // not the O(n·k) of a linear weakest-scan — which is what makes
  // k=1000 per-group shortlists viable, not just the k=3 gate query.

  private def swap(buf: Buf, i: Int, j: Int): Unit = {
    val t = buf(i); buf(i) = buf(j); buf(j) = t
  }

  private def siftUp(buf: Buf, start: Int): Unit = {
    var i = start
    var continue = i > 0
    while (continue) {
      val p = (i - 1) >> 1
      if (weaker(buf(i), buf(p))) { swap(buf, i, p); i = p }
      else continue = false
      if (i == 0) continue = false
    }
  }

  private def siftDown(buf: Buf, start: Int): Unit = {
    val n = buf.length
    var i = start
    var continue = true
    while (continue) {
      val l = 2 * i + 1
      var m = i
      if (l < n && weaker(buf(l), buf(m))) m = l
      if (l + 1 < n && weaker(buf(l + 1), buf(m))) m = l + 1
      if (m == i) continue = false
      else { swap(buf, i, m); i = m }
    }
  }

  /** Restore the heap invariant over an arbitrarily-ordered buffer. */
  private def heapify(buf: Buf): Buf = {
    var i = (buf.length >> 1) - 1
    while (i >= 0) { siftDown(buf, i); i -= 1 }
    buf
  }

  private def insert(buf: Buf, item: (Double, Long)): Buf = {
    if (buf.length < k) { buf += item; siftUp(buf, buf.length - 1) }
    else if (beats(item, buf(0))) { buf(0) = item; siftDown(buf, 0) }
    buf
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s == null || i == null) buf
    else insert(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: Buf): Any = {
    val sorted = buf.sortWith(beats)
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.length * 16)
    bb.putInt(buf.length)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i); () }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf += ((bb.getDouble, bb.getLong)); i += 1 }
    // a deserialized buffer may become a merge TARGET — restore the
    // heap invariant the serialized byte order doesn't carry
    heapify(buf)
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TopKByScore =
    copy(score = c(0), id = c(1))
}

object TopKByScore {
  /** array<struct<score, id>> of the group's top k, (score desc, id). */
  def column(score: Column, id: Column, k: Int): Column =
    Shims.column(TopKByScore(Shims.expression(score),
      Shims.expression(id), k).toAggregateExpression())
}

/** Per-query serving top-k as ONE partial aggregate: the batch tail's
  * spill collapse, crowding cap and rank cut folded into a heap, so
  * each partition sends at most k rows per group across the exchange
  * instead of every scored (query, candidate) pair.
  *
  * Children: `score` (double), `id` (any atomic type), an optional
  * crowding attribute, and the limits `k` and `cap` — per-row int
  * expressions (`least(lit, col)` on a batch with per-query limits),
  * read from a group's first row; null means unbounded; and an
  * optional shortlist (see below). Output: the kept (score, id)
  * structs, best first, at most k.
  *
  * Ordering is Spark's: score descending by
  * [[SQLOrderingUtil.compareDoubles]] (NaN highest, −0.0 == 0.0),
  * null scores last and kept; then id ascending by the id type's own
  * ordering; then attribute ascending (a tie-break only copies that
  * disagree on it can reach). Null attribute values form one
  * crowding group.
  *
  * Every buffer holds PRUNE of the copies it has seen, and the merge
  * and the final list are PRUNE again: walk the copies best first and
  * keep one when its id is not kept yet, fewer than `cap` kept copies
  * share its attribute value, and fewer than k are kept. When all
  * copies of an id share one attribute value — spill copies of a
  * layout row, and every last-write-wins resolved handle — PRUNE of
  * the union equals PRUNE of the partial PRUNEs, so the result is
  * exactly max-score collapse → crowding cap → top k under any
  * partitioning.
  *
  * Copies of one id that DISAGREE on the attribute (a pinned
  * [[graft.operators.Serving$.openAt]] handle can hold two versions
  * of an id under different labels) follow the same walk: the id is
  * served by its best copy that its own value's cap admits, counted
  * under that copy's value; a copy crowded out blocks nothing, so a
  * weaker copy under another value may be served in its place. Each
  * buffer applies this to the copies it holds, so for such an id the
  * outcome can depend on which copies share a partition; it is
  * deterministic when they share one.
  *
  * SHORTLIST mode (`shortlist` = (shortlist score s, m)): buffers and
  * the merge PRUNE by (s desc, id, score desc, attribute) with k = m
  * and no cap — each group's m best ids by s, one copy each, carrying
  * its own score and attribute — and the final list re-ranks those
  * survivors by score under the walk above with the group's k and cap.
  * The order is total, so copies that disagree (a pinned handle's two
  * versions of an id) resolve the same under any partitioning: the
  * copy with the best s is served, not the one with the best score.
  */
case class TopKCrowded(score: Expression, id: Expression,
    attr: Option[Expression], k: Expression, cap: Expression,
    shortlist: Option[(Expression, Int)] = None,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKCrowded.Buf] {
  import TopKCrowded.{Buf, Entry}

  override def children: Seq[Expression] =
    Seq(score, id) ++ attr.toSeq ++ Seq(k, cap) ++ shortlist.map(_._1)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType),
    StructField("id", id.dataType))), containsNull = false)
  override def prettyName: String = "graft_top_k_crowded"

  private def attrType: DataType = attr.fold[DataType](NullType)(_.dataType)
  @transient private lazy val idOrd = TypeUtils.getInterpretedOrdering(id.dataType)
  @transient private lazy val attrOrd =
    attr.map(a => TypeUtils.getInterpretedOrdering(a.dataType))
  @transient private lazy val toUnsafe = UnsafeProjection.create(
    Array[DataType](DoubleType, id.dataType, attrType) ++ shortlist.map(_ => DoubleType))

  private def nullsFirst(o: Ordering[Any], x: Any, y: Any): Int =
    if (x == null) { if (y == null) 0 else -1 }
    else if (y == null) 1
    else o.compare(x, y)

  /** Score against score, nulls last: < 0 when `a` ranks first. */
  private def desc(aNull: Boolean, a: Double, bNull: Boolean, b: Double): Int =
    if (aNull) { if (bNull) 0 else 1 }
    else if (bNull) -1
    else SQLOrderingUtil.compareDoubles(b, a)

  /** The keep-order: < 0 when `a` ranks first. */
  private def cmp(a: Entry, b: Entry): Int = {
    var c = desc(a.nullScore, a.score, b.nullScore, b.score)
    if (c == 0) c = nullsFirst(idOrd, a.id, b.id)
    if (c == 0 && shortlist.nonEmpty)
      c = desc(a.nullExact, a.exact, b.nullExact, b.exact)
    if (c == 0) attrOrd.fold(0)(nullsFirst(_, a.attr, b.attr)) else c
  }
  private def sameId(a: Entry, b: Entry): Boolean = nullsFirst(idOrd, a.id, b.id) == 0
  private def sameAttr(a: Entry, b: Entry): Boolean =
    attrOrd.forall(nullsFirst(_, a.attr, b.attr) == 0)

  override def createAggregationBuffer(): Buf = new Buf

  /** The limits a buffer PRUNEs under: the group's, or (m, no cap). */
  private def keepK(buf: Buf): Int = shortlist.fold(buf.k)(_._2)
  private def keepCap(buf: Buf): Int = if (shortlist.isEmpty) buf.cap else Int.MaxValue

  /** PRUNE(buffer ∪ {e}) under (k, cap) in place; the buffer is kept
    * best first. */
  private def insert(buf: Buf, e: Entry, k: Int, cap: Int): Unit = {
    val rows = buf.rows
    val n = rows.length
    if (k <= 0 || (n >= k && cmp(e, rows(n - 1)) >= 0)) return
    var lo = 0
    var hi = n
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (cmp(rows(m), e) <= 0) lo = m + 1 else hi = m
    }
    val p = lo
    // a better copy of the id, or `cap` better rows of its value, win
    var same = 0
    var i = 0
    while (i < p) {
      val r = rows(i)
      if (sameId(r, e)) return
      if (sameAttr(r, e)) same += 1
      i += 1
    }
    if (same >= cap) return
    i = p
    while (i < rows.length && !sameId(rows(i), e)) i += 1
    if (i < rows.length) rows.remove(i)
    rows.insert(p, e)
    // the value may now hold cap + 1 rows: its weakest leaves
    if (attr.nonEmpty && cap < Int.MaxValue) {
      same += 1
      i = p + 1
      while (i < rows.length && same <= cap) {
        if (sameAttr(rows(i), e)) {
          same += 1
          if (same > cap) rows.remove(i)
        }
        i += 1
      }
    }
    if (rows.length > k) rows.remove(k, rows.length - k)
  }

  private def limit(e: Expression, input: InternalRow): Int = {
    val v = e.eval(input)
    if (v == null) Int.MaxValue else v.asInstanceOf[Int]
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    if (buf.k < 0) { buf.k = limit(k, input); buf.cap = limit(cap, input) }
    if (buf.k <= 0) return buf
    val s = shortlist.fold(score)(_._1).eval(input)
    val rows = buf.rows
    // the common case: a full buffer whose weakest row strictly beats
    // this score rejects it before the id is read
    if (rows.length >= keepK(buf)) {
      val w = rows(rows.length - 1)
      if (!w.nullScore && (s == null ||
          SQLOrderingUtil.compareDoubles(s.asInstanceOf[Double], w.score) < 0))
        return buf
    }
    val x = if (shortlist.isEmpty) null else score.eval(input)
    insert(buf, new Entry(if (s == null) 0.0 else s.asInstanceOf[Double],
      s == null, InternalRow.copyValue(id.eval(input)),
      attr.map(a => InternalRow.copyValue(a.eval(input))).orNull,
      if (x == null) 0.0 else x.asInstanceOf[Double], x == null),
      keepK(buf), keepCap(buf))
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    if (buf.k < 0) { buf.k = other.k; buf.cap = other.cap }
    other.rows.foreach(insert(buf, _, keepK(buf), keepCap(buf)))
    buf
  }

  override def eval(buf: Buf): Any = {
    // a shortlist's ≤ m survivors (one copy per id) re-rank by score
    val ranked = if (shortlist.isEmpty) buf else {
      val r = new Buf
      buf.rows.foreach(e => insert(r, new Entry(e.exact, e.nullExact, e.id,
        e.attr, e.exact, e.nullExact), buf.k, buf.cap))
      r
    }
    new GenericArrayData(ranked.rows.map { e =>
      InternalRow(if (e.nullScore) null else e.score, e.id)
    }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    out.writeInt(buf.k)
    out.writeInt(buf.cap)
    out.writeInt(buf.rows.length)
    buf.rows.foreach { e =>
      val row = toUnsafe(new GenericInternalRow(Array[Any](
        if (e.nullScore) null else e.score, e.id, e.attr) ++
        shortlist.map(_ => if (e.nullExact) null else e.exact)))
      out.writeInt(row.getSizeInBytes)
      out.write(row.getBytes)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new Buf
    buf.k = in.readInt()
    buf.cap = in.readInt()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val row = new UnsafeRow(3 + shortlist.size)
      row.pointTo(b, b.length)
      val noExact = shortlist.isEmpty || row.isNullAt(3)
      // a serialized buffer is already PRUNEd and best first
      buf.rows += new Entry(if (row.isNullAt(0)) 0.0 else row.getDouble(0),
        row.isNullAt(0), InternalRow.copyValue(row.get(1, id.dataType)),
        InternalRow.copyValue(row.get(2, attrType)),
        if (noExact) 0.0 else row.getDouble(3), noExact)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKCrowded =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKCrowded =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TopKCrowded = {
    val a = attr.size
    copy(score = c(0), id = c(1), attr = attr.map(_ => c(2)), k = c(2 + a),
      cap = c(3 + a), shortlist = shortlist.map { case (_, m) => (c(4 + a), m) })
  }
}

object TopKCrowded {
  /** One kept copy: in shortlist mode `score` is the shortlist score. */
  final class Entry(val score: Double, val nullScore: Boolean, val id: Any,
      val attr: Any, val exact: Double = 0.0, val nullExact: Boolean = true)

  /** The group's limits (-1 until its first row) and kept copies. */
  final class Buf {
    var k: Int = -1
    var cap: Int = Int.MaxValue
    val rows = new scala.collection.mutable.ArrayBuffer[Entry]()
  }

  /** array<struct<score, id>> of the group's kept copies, best first;
    * `attr` = the crowding attribute, capped at `cap` per value;
    * `shortlist` = (shortlist score, m): rank only each group's m best
    * ids by that score. */
  def column(score: Column, id: Column, attr: Option[Column], k: Column,
      cap: Column, shortlist: Option[(Column, Int)] = None): Column =
    Shims.column(TopKCrowded(Shims.expression(score.cast("double")),
      Shims.expression(id), attr.map(Shims.expression),
      Shims.expression(k.cast("int")), Shims.expression(cap.cast("int")),
      shortlist.map { case (s, m) => (Shims.expression(s.cast("double")), m) })
      .toAggregateExpression())
}
