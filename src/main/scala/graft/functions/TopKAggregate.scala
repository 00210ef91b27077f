package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** The ONE per-group top-k of the engine, as a partial aggregate
  * (`TypedImperativeAggregate`): every serving tail (single requests,
  * batches), the kNN self-join and SQL `graft_top_k` rank through it.
  * Spill collapse, crowding cap and rank cut fold into one bounded
  * buffer, so each partition sends at most k rows per group across the
  * exchange instead of every scored (group, candidate) row.
  *
  * Children: `score` (double), `id` (any atomic type), an optional
  * crowding attribute, and the limits `k` and `cap` — per-row int
  * expressions (`least(lit, col)` on a batch with per-query limits),
  * read from a group's first row; null means unbounded; and an
  * optional shortlist (see below). Output: the kept (score, id[,
  * attr]) structs, best first, at most k — the attribute is the served
  * copy's, so an uncapped attribute can carry a per-copy value such as
  * a spill copy's `leaf_id` (the lowest of equal-score copies).
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
  * deterministic when they share one. A single request is one group,
  * so its copies always meet in the final PRUNE: it serves what the
  * batch's walk serves for that query, by construction.
  *
  * So on every surface, SQL included: a null score is KEPT and ranked
  * last; `graft_top_k` returns each id at most once, by its best copy;
  * and a pinned handle's single requests follow the copy rule above.
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
    StructField("id", id.dataType)) ++
    attr.map(a => StructField("attr", a.dataType))), containsNull = false)
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
      val s = if (e.nullScore) null else e.score
      if (attr.isEmpty) InternalRow(s, e.id) else InternalRow(s, e.id, e.attr)
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

  /** array<struct<score, id[, attr]>> of the group's kept copies, best
    * first; `attr` = the crowding attribute, capped at `cap` per value;
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
