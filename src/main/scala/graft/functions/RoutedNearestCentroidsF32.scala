package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The routing payload shipped to executors ONCE per executor as a
  * Spark broadcast: leaf centroids flat-packed in float32 (stride
  * `dim`), float32 super-centroids, and the leaf groups. Norms are
  * derived lazily on first use per JVM (one pass, ~8 MB of doubles
  * at 10⁶ leaves) rather than shipped.
  *
  * Storage is float32 for ROUTING only — data vectors are still
  * scored exactly at full precision downstream — so the matrix that
  * dominates the large-index probe footprint halves (~6.2 GB → ~2.9
  * GB at the 1M-leaf cap), and the flat packing drops a million
  * array-object headers.
  */
final class RouterData(val flatCents: Array[Float], val dim: Int,
    val supers: Array[Array[Float]], val groups: Array[Array[Int]])
    extends Serializable {
  require(dim > 0 && flatCents.length % dim == 0,
    s"flat centroid matrix length ${flatCents.length} not a multiple of dim $dim")
  require(flatCents.nonEmpty && supers.nonEmpty, "empty router")

  def numLeaves: Int = flatCents.length / dim

  @transient lazy val centNorms: Array[Double] = {
    val l = numLeaves
    val out = new Array[Double](l)
    var c = 0
    while (c < l) {
      var s = 0.0
      var j = 0
      while (j < dim) {
        val x = flatCents(c * dim + j).toDouble
        s += x * x
        j += 1
      }
      out(c) = s
      c += 1
    }
    out
  }
  @transient lazy val superNorms: Array[Double] =
    supers.map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
}

/** [[RoutedNearestCentroids]] restructured for very large leaf
  * counts: the centroid matrix travels as a BROADCAST of a float32
  * [[RouterData]] instead of a per-expression reference object.
  *
  * Why both changes matter at the 1M-leaf cap:
  *   - reference objects are serialized INTO the task binary, and
  *     every task deserializes its own copy — at 10⁶ leaves the
  *     double matrix is a ~0.5 GB task binary whose 32-way
  *     deserialization OOMs an 8 GB executor outright (measured:
  *     `route 1000000` on the double expression dies in task
  *     deserialization; the `route` mode of
  *     `git show 89d9bee:src/main/scala/graft/ScaleProbe.scala`,
  *     numbers in PERF.md). A broadcast is fetched and cached ONCE
  *     per executor; tasks share it.
  *   - float32 + flat packing halves the resident bytes again.
  *
  * Same two-level walk, same selection order, same NaN rule as the
  * double expression; probe-list parity vs the double router is a
  * measured quantity (≥0.99 — RoutedProbeSpec),
  * so hash-gated paths keep using [[graft.operators.IvfIndex.probeExpr]]
  * and this is the opt-in scale path
  * ([[graft.operators.IvfIndex.probeExprF32]]).
  *
  * Scores accumulate in double from the float coordinates (float
  * loads widen for free; only storage narrows).
  */
case class RoutedNearestCentroidsF32(left: Expression, right: Expression,
    bc: Broadcast[RouterData], oversample: Int, take: Int)
    extends BinaryExpression with ExpectsInputTypes {

  require(take >= 1, s"take must be >= 1, got $take")

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_routed_nearest_centroids_f32"

  override def nullSafeEval(v: Any, a: Any): Any =
    RoutedNearestCentroidsF32.route(v.asInstanceOf[ArrayData],
      a.asInstanceOf[Double], bc.value, oversample, take)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("routerBc", bc,
      classOf[Broadcast[RouterData]].getName)
    nullSafeCodeGen(ctx, ev, (v, a) =>
      s"${ev.value} = graft.functions.RoutedNearestCentroidsF32.route(" +
        s"$v, $a, (graft.functions.RouterData) $bcRef.value(), " +
        s"$oversample, $take);")
  }

  // identity = the broadcast (one per model), not the matrix content:
  // comparing/hashing gigabytes on every optimizer lookup is the
  // failure mode the content-hash caches in the sibling expressions
  // exist to avoid, and the broadcast id is already unique per payload
  override def equals(other: Any): Boolean = other match {
    case r: RoutedNearestCentroidsF32 =>
      left == r.left && right == r.right && take == r.take &&
        oversample == r.oversample && bc.id == r.bc.id
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(left, right, java.lang.Long.valueOf(bc.id),
      Integer.valueOf(take), Integer.valueOf(oversample))

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): RoutedNearestCentroidsF32 = copy(left = l, right = r)
}

object RoutedNearestCentroidsF32 {

  private def leafScore(v: ArrayData, aux: Double, flat: Array[Float],
      dim: Int, c: Int, norm: Double): Double = {
    val vn = v.numElements()
    val d = math.min(dim, vn)
    val base = c * dim
    var dot = 0.0
    var j = 0
    while (j < d) { dot += flat(base + j) * v.getDouble(j); j += 1 }
    val auxTerm = if (dim > vn) aux * flat(base + dim - 1) else 0.0
    norm - 2.0 * (dot + auxTerm)
  }

  private def superScore(v: ArrayData, aux: Double, cent: Array[Float],
      norm: Double): Double = {
    val vn = v.numElements()
    val d = math.min(cent.length, vn)
    var dot = 0.0
    var j = 0
    while (j < d) { dot += cent(j) * v.getDouble(j); j += 1 }
    val auxTerm = if (cent.length > vn) aux * cent(cent.length - 1) else 0.0
    norm - 2.0 * (dot + auxTerm)
  }

  /** Called from both interpreted eval and generated code. Identical
    * control flow to [[RoutedNearestCentroids.route]] — see there for
    * the selection-order and NaN-handling invariants.
    */
  def route(v: ArrayData, aux: Double, d: RouterData,
      oversample: Int, take: Int): ArrayData = {
    val flat = d.flatCents
    val dim = d.dim
    val centNorms = d.centNorms
    val supers = d.supers
    val superNorms = d.superNorms
    val groups = d.groups
    val target = math.max(take * oversample, 32)
    val g = supers.length
    val sScore = new Array[Double](g)
    var s = 0
    while (s < g) {
      val sc = superScore(v, aux, supers(s), superNorms(s))
      sScore(s) = if (java.lang.Double.isNaN(sc)) Double.PositiveInfinity
        else sc
      s += 1
    }
    val used = new Array[Boolean](g)
    val t = math.min(take, centNorms.length)
    val idx = new Array[Int](t)
    val sc = new Array[Double](t)
    var filled = 0
    var count = 0
    var gi = 0
    while (gi < g && (count < target || gi < 2)) {
      var best = -1
      var bs = Double.PositiveInfinity
      s = 0
      while (s < g) {
        if (!used(s) && (best == -1 || sScore(s) < bs)) {
          bs = sScore(s); best = s
        }
        s += 1
      }
      used(best) = true
      val leaves = groups(best)
      var li = 0
      while (li < leaves.length) {
        val c = leaves(li)
        val cs = leafScore(v, aux, flat, dim, c, centNorms(c))
        def before(i: Int): Boolean =
          cs < sc(i) || (cs == sc(i) && c < idx(i))
        if (java.lang.Double.isNaN(cs)) {}
        else if (filled < t) {
          var p = filled
          while (p > 0 && before(p - 1)) {
            sc(p) = sc(p - 1); idx(p) = idx(p - 1); p -= 1
          }
          sc(p) = cs; idx(p) = c; filled += 1
        } else if (before(t - 1)) {
          var p = t - 1
          while (p > 0 && before(p - 1)) {
            sc(p) = sc(p - 1); idx(p) = idx(p - 1); p -= 1
          }
          sc(p) = cs; idx(p) = c
        }
        li += 1
      }
      count += leaves.length
      gi += 1
    }
    val out = new Array[Any](filled)
    var i = 0
    while (i < filled) { out(i) = idx(i); i += 1 }
    new GenericArrayData(out)
  }
}
