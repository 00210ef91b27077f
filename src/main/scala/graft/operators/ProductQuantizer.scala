package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid: "Product Quantization
  * for Nearest Neighbor Search", PAMI 2011) — the memory-bound ANN
  * tier the engine's int8 scalar quantization doesn't reach: the
  * 64-dim embedding splits into 8 subspaces of 8 dims, each encoded as
  * the nearest of 16 per-subspace codebook entries, so a vector is
  * 8×4 bits = one 32-bit word in a packed bigint (256 B float → 4 B,
  * 64×). Search is ADC (asymmetric distance computation): the query
  * precomputes an 8×16 table of per-subspace partial dot products and
  * every corpus score is 8 table lookups + 7 adds — no float vector is
  * touched at scan time, which is what makes a 100 TB corpus scannable
  * from codes resident in memory.
  *
  * Codebooks here are FIXED data-derived vectors (16 spread corpus
  * rows, not k-means) so encode and ADC are exactly replicable in
  * SQL — the same fixed-centroid trick as v_ann_pipeline: swap k-means
  * for deterministic codebooks, keep every other stage the production
  * path, and the whole operator hash-checks. Tie-break: equal
  * subspace distances take the LOWEST code on both engines.
  *
  * Scale shape: encode is a pure codegen map pass (no shuffle, no
  * MLlib on the corpus); ADC scoring is codegen lookups into literal
  * tables; top-k is TakeOrderedAndProject. The reference's Tree-AH is
  * itself a PQ-family index (asymmetric hashing = ADC over learned
  * codebooks), so this is the closest analog of its scoring core.
  */
object ProductQuantizer {

  val NumSub = 8
  val SubDim = 8
  val NumCodes = 16

  /** Fixed codebook rows: full vectors sorted by id; code c = rank of
    * its id among `ids` (both engines derive the same ranks).
    */
  def codebook(emb: DataFrame, idCol: String, vecCol: String,
      ids: Seq[Long]): Seq[Array[Double]] = {
    val rows = emb.filter(col(idCol).isin(ids: _*))
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray).toSeq
    require(rows.length == ids.length,
      s"codebook ids missing from corpus: got ${rows.length}/${ids.length}")
    rows
  }

  /** Packed code word: subspace s contributes its argmin-L2 code in
    * bits [4s, 4s+4) — ONE fused codegen expression holding the
    * codebook as a referenced object ([[PqEncode]]), ties to the
    * lowest code. An earlier composition inlined the codebook as ~128
    * literal arrays (`array_position(array(graft_l2(...) × 16))` × 8
    * subspaces) and janino hit its 64 KB method limit, silently
    * dropping every encode plan out of whole-stage codegen — the
    * write-path hot loop on a 100 TB corpus running volcano-style.
    * Same distance arithmetic (forward-accumulated squared diffs,
    * sqrt) and the same first-minimum tie-break, so codes are
    * bit-identical to the literal form and the SQL oracle.
    */
  def encodeExpr(vec: Column, cb: Seq[Array[Double]]): Column = {
    require(cb.length == NumCodes, s"expected $NumCodes codebook rows")
    org.apache.spark.sql.graftshim.Shims.column(PqEncode(
      org.apache.spark.sql.graftshim.Shims.expression(
        vec.cast("array<double>")),
      cb.toArray))
  }

  /** Query-side ADC table: table(s)(c) = forward dot of the query's
    * and code c's subspace-s slice — the identical accumulation order
    * as DuckDB list_inner_product, so the doubles are bit-equal.
    */
  def adcTable(query: Array[Double], cb: Seq[Array[Double]]): Seq[Seq[Double]] =
    (0 until NumSub).map { s =>
      cb.map { c =>
        var dot = 0.0
        var j = 0
        while (j < SubDim) {
          dot += query(s * SubDim + j) * c(s * SubDim + j)
          j += 1
        }
        dot
      }.toSeq
    }

  /** ADC score of a packed code: 8 literal-table lookups combined in
    * FIXED left-associative order (the oracle writes the same
    * t0+t1+…+t7) so the float sum is deterministic.
    */
  def adcScoreExpr(packed: Column, table: Seq[Seq[Double]]): Column =
    (0 until NumSub).map { s =>
      element_at(typedLit(table(s)),
        (shiftright(packed, 4 * s).bitwiseAND(lit(15L)) + 1L).cast("int"))
    }.reduce(_ + _)

  /** ADC score with the QUERY AS A COLUMN — the batched form:
    * [[adcScoreExpr]] bakes one query's 8×16 table into the plan as a
    * literal, which cannot express a DataFrame of queries. This
    * expression scores a packed code directly against a per-row query
    * vector (8 forward sub-dots against the referenced codebook — 64
    * multiplies, the same arithmetic the table lookup amortizes),
    * accumulating subspaces in ascending order, so its doubles are
    * BIT-IDENTICAL to the table path and the SQL oracle. Cost per
    * (code, query) pair matches a raw dot, but the scan side reads
    * 4 B/row instead of 256 — at a 10⁶-query batch over a 10⁹-row
    * corpus that byte ratio is the whole game.
    */
  def adcDirectExpr(packed: Column, qvec: Column,
      cb: Seq[Array[Double]]): Column = {
    require(cb.length == NumCodes, s"expected $NumCodes codebook rows")
    org.apache.spark.sql.graftshim.Shims.column(AdcDirect(
      org.apache.spark.sql.graftshim.Shims.expression(packed.cast("bigint")),
      org.apache.spark.sql.graftshim.Shims.expression(
        qvec.cast("array<double>")),
      cb.toArray))
  }

  /** Distributed BATCHED ADC top-k over a persisted code table: the
    * query frame broadcasts, every (code row × query) pair scores via
    * [[adcDirectExpr]], and the per-query top-k is a window rank —
    * the coded-tier sibling of the raw batched search
    * ([[graft.operators.Serving.searchBatch]]). Output:
    * (qid, idCol, adc_score, rn).
    */
  def searchCodesBatch(codes: DataFrame, idCol: String,
      cb: Seq[Array[Double]], queries: DataFrame, qid: String,
      qvecCol: String, k: Int): DataFrame = {
    val scored = codes.crossJoin(broadcast(
        queries.select(col(qid), col(qvecCol).cast("array<double>")
          .as("__qv"))))
      .select(col(qid), col(idCol),
        adcDirectExpr(col("pq_code"), col("__qv"), cb).as("score"))
    Knn.topKPerQuery(scored, k, qid, idCol, Knn.Dot)
      .select(col(qid), col(idCol), col("score").as("adc_score"), col("rn"))
  }

  /** Corpus → (id, pq_code) — the table you persist; at 100 TB the
    * code table is what lives in memory (4 B/vector) while the float
    * vectors stay on cold storage.
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
      cb: Seq[Array[Double]]): DataFrame =
    emb.select(col(idCol),
      encodeExpr(col(vecCol).cast("array<double>"), cb).as("pq_code"))

  /** ADC top-k over a persisted code table: 8 lookups + 7 adds per
    * row, TakeOrderedAndProject, no shuffle, no float vectors.
    */
  def searchCodes(codes: DataFrame, idCol: String,
      cb: Seq[Array[Double]], query: Array[Double], k: Int): DataFrame =
    codes.select(col(idCol), col("pq_code"),
        adcScoreExpr(col("pq_code"), adcTable(query, cb)).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)

  /** Encode + ADC top-k in one pass (self-contained form; production
    * persists [[encode]]'s output and serves many queries from it via
    * [[searchCodes]]).
    */
  def search(emb: DataFrame, idCol: String, vecCol: String,
      cb: Seq[Array[Double]], query: Array[Double], k: Int): DataFrame =
    searchCodes(encode(emb, idCol, vecCol, cb), idCol, cb, query, k)

  /** TRAINED codebooks: per-subspace Lloyd's over a bounded
    * deterministic sample — the actual PQ objective (minimize
    * per-subspace reconstruction error, Jégou §II) instead of the 16
    * fixed corpus rows the hash gates use for SQL replicability. The
    * result is assembled back into the SAME representation (16
    * full-dim rows, row c = the concatenation of each subspace's
    * entry c), so [[encodeExpr]], [[adcTable]], [[writeCodebook]] and
    * the serving tier are untouched; fixed vs trained is purely a
    * quality choice at build time.
    *
    * Deterministic end to end: hash-sampled rows (same predicate
    * family as the index build's fit sample), id-sorted, seeded
    * farthest-point init, fixed iteration count — two trains over the
    * same data are bit-identical (spec'd), which is what makes a
    * trained codebook safe to persist beside a reproducible index.
    *
    * Scale shape: ONE bounded collect (≤ `maxSample` rows); Lloyd's
    * runs on the driver over ≤ maxSample×dim doubles (k=16 per
    * subspace — trivial); encode stays a distributed codegen map.
    */
  def trainCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      maxSample: Int = 20000, iters: Int = 10): Seq[Array[Double]] = {
    val n = emb.count()
    val sampled =
      if (n <= maxSample) emb
      else emb.filter(
        pmod(xxhash64(col(idCol)), lit(1000000L)) <
          lit((maxSample.toLong * 1000000L) / n))
    val rows = sampled
      .select(col(idCol).cast("string"), col(vecCol).cast("array<double>"))
      .collect().sortBy(_.getString(0))
      .map(_.getSeq[Double](1).toArray)
    require(rows.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val dim = rows.head.length
    require(dim == NumSub * SubDim,
      s"expected ${NumSub * SubDim}-dim vectors, got $dim")
    val out = Array.fill(NumCodes)(new Array[Double](dim))
    var s = 0
    while (s < NumSub) {
      val slices = rows.map(_.slice(s * SubDim, s * SubDim + SubDim))
      val cents = lloyd(slices, NumCodes, iters)
      var c = 0
      while (c < NumCodes) {
        System.arraycopy(cents(c), 0, out(c), s * SubDim, SubDim)
        c += 1
      }
      s += 1
    }
    out.toSeq
  }

  /** ANISOTROPIC codebooks — the reference's actual quantization
    * objective (Vertex AI vector search is ScaNN; Guo et al. 2020,
    * "Accelerating Large-Scale Inference with Anisotropic Vector
    * Quantization"): for MIPS serving, quantization error PARALLEL to
    * the datapoint costs inner-product accuracy on exactly the
    * high-scoring pairs, so the loss weights the parallel residual
    * `eta` times the orthogonal one instead of minimizing plain L2.
    * Assignment minimizes ‖x−c‖² + (η−1)·(uᵀ(x−c))² with u = x/‖x‖;
    * the centroid update is the closed-form weighted least squares:
    * solve (n·I + (η−1)·Σᵢ uᵢuᵢᵀ)·c = η·Σᵢ xᵢ per cluster (the
    * cross term uᵢuᵢᵀxᵢ = xᵢ collapses the RHS). η = 1 reduces to
    * exact Lloyd's.
    *
    * Applied PER SUBSPACE (u is the subvector's own direction) — a
    * documented simplification of the paper, which decomposes the
    * FULL residual and couples subspaces via coordinate descent;
    * measured on this engine's corpora it still buys recall (PERF
    * round-7). Deterministic like [[trainCodebooks]]: same sampling,
    * same farthest-point init, fixed iterations, driver-local.
    */
  def trainCodebooksAniso(emb: DataFrame, idCol: String, vecCol: String,
      eta: Double, maxSample: Int = 20000, iters: Int = 10)
      : Seq[Array[Double]] = {
    require(eta >= 1.0, s"eta must be >= 1 (got $eta); 1 = plain Lloyd's")
    val n = emb.count()
    val sampled =
      if (n <= maxSample) emb
      else emb.filter(
        pmod(xxhash64(col(idCol)), lit(1000000L)) <
          lit((maxSample.toLong * 1000000L) / n))
    val rows = sampled
      .select(col(idCol).cast("string"), col(vecCol).cast("array<double>"))
      .collect().sortBy(_.getString(0))
      .map(_.getSeq[Double](1).toArray)
    require(rows.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val dim = rows.head.length
    require(dim == NumSub * SubDim,
      s"expected ${NumSub * SubDim}-dim vectors, got $dim")
    val out = Array.fill(NumCodes)(new Array[Double](dim))
    var s = 0
    while (s < NumSub) {
      val slices = rows.map(_.slice(s * SubDim, s * SubDim + SubDim))
      val cents = lloydAniso(slices, NumCodes, iters, eta)
      var c = 0
      while (c < NumCodes) {
        System.arraycopy(cents(c), 0, out(c), s * SubDim, SubDim)
        c += 1
      }
      s += 1
    }
    out.toSeq
  }

  /** FULL-VECTOR anisotropic PQ — the paper's actual objective
    * (Guo et al. 2020 §3-4), not the per-subspace simplification of
    * [[trainCodebooksAniso]]: the residual r = x − q(x) is decomposed
    * against the WHOLE datapoint's direction u = x/‖x‖, loss =
    * η·(uᵀr)² + (‖r‖² − (uᵀr)²), and because uᵀr couples every
    * subspace, codes are assigned by COORDINATE DESCENT (each
    * subspace's code re-chosen given the others — the candidate cost
    * needs only the running cross-subspace sums, O(codes·subdim) per
    * step) and each codebook entry solves the coupled weighted least
    * squares  A·c = b  with A = Σ(I + (η−1)·u_s u_sᵀ) and
    * b = Σ(x_s + (η−1)·(uᵀr̄_other + u_sᵀx_s)·u_s) over its assigned
    * rows (r̄_other = the residual contribution of the OTHER
    * subspaces, held fixed). Deterministic: plain-PQ init, fixed
    * alternation count, driver-local like both trainers.
    *
    * Measured next to plain and per-subspace training by the
    * `pqaniso` mode of `git show 89d9bee:src/main/scala/graft/ScaleProbe.scala`
    * (numbers in PERF.md) — the encode used at serving time must
    * match the training-time assignment rule (coordinate descent,
    * exposed as [[encodeCdCodes]]) or the codebook's placement is
    * wasted.
    */
  def trainCodebooksAnisoFull(emb: DataFrame, idCol: String,
      vecCol: String, eta: Double, maxSample: Int = 20000,
      alternations: Int = 6, cdRounds: Int = 2): Seq[Array[Double]] = {
    require(eta >= 1.0, s"eta must be >= 1 (got $eta)")
    val n = emb.count()
    val sampled =
      if (n <= maxSample) emb
      else emb.filter(
        pmod(xxhash64(col(idCol)), lit(1000000L)) <
          lit((maxSample.toLong * 1000000L) / n))
    val rows = sampled
      .select(col(idCol).cast("string"), col(vecCol).cast("array<double>"))
      .collect().sortBy(_.getString(0))
      .map(_.getSeq[Double](1).toArray)
    require(rows.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val dim = rows.head.length
    require(dim == NumSub * SubDim,
      s"expected ${NumSub * SubDim}-dim vectors, got $dim")
    // init from the plain per-subspace objective
    var cb = trainCodebooks(sampled, idCol, vecCol, maxSample).toArray
    val us = rows.map { x =>
      var nn = 0.0; var j = 0
      while (j < dim) { nn += x(j) * x(j); j += 1 }
      val inv = if (nn == 0.0) 0.0 else 1.0 / math.sqrt(nn)
      Array.tabulate(dim)(j => x(j) * inv)
    }
    var codes = cdAssign(rows, us, cb, eta, cdRounds, null)
    var alt = 0
    while (alt < alternations) {
      // --- codebook update, one coupled WLS solve per (s, c) ---
      val next = cb.map(_.clone())
      var s = 0
      while (s < NumSub) {
        val o = s * SubDim
        // per-row cross-subspace parallel sum EXCLUDING subspace s
        val parOther = new Array[Double](rows.length)
        var i = 0
        while (i < rows.length) {
          val x = rows(i); val u = us(i); var p = 0.0
          var k = 0
          while (k < NumSub) {
            if (k != s) {
              val ok = k * SubDim; val ck = cb(codes(i)(k))
              var j = 0
              while (j < SubDim) {
                p += u(ok + j) * (x(ok + j) - ck(ok + j)); j += 1
              }
            }
            k += 1
          }
          parOther(i) = p
          i += 1
        }
        var c = 0
        while (c < NumCodes) {
          val mat = new Array[Double](SubDim * SubDim)
          val rhs = new Array[Double](SubDim)
          var cnt = 0
          i = 0
          while (i < rows.length) {
            if (codes(i)(s) == c) {
              cnt += 1
              val x = rows(i); val u = us(i)
              val w = eta - 1.0
              var j = 0
              while (j < SubDim) {
                mat(j * SubDim + j) += 1.0
                var l = 0
                while (l < SubDim) {
                  mat(j * SubDim + l) += w * u(o + j) * u(o + l); l += 1
                }
                var uxs = 0.0
                var jj = 0
                while (jj < SubDim) { uxs += u(o + jj) * x(o + jj); jj += 1 }
                rhs(j) += x(o + j) + w * (parOther(i) + uxs) * u(o + j)
                j += 1
              }
            }
            i += 1
          }
          if (cnt > 0) {
            val sol = solveSpd(mat, rhs, SubDim)
            System.arraycopy(sol, 0, next(c), o, SubDim)
          }
          c += 1
        }
        s += 1
      }
      cb = next
      codes = cdAssign(rows, us, cb, eta, cdRounds, codes)
      alt += 1
    }
    cb.toSeq
  }

  /** Coordinate-descent code assignment under the full-vector
    * anisotropic loss: init = per-subspace L2 argmin (or the previous
    * codes), then `rounds` sweeps re-choosing each subspace's code
    * given the others. Exposed for serving-side encoding next to the
    * trained codebook.
    */
  private[graft] def cdAssign(rows: Array[Array[Double]],
      us: Array[Array[Double]], cb: Array[Array[Double]], eta: Double,
      rounds: Int, prev: Array[Array[Int]]): Array[Array[Int]] = {
    val dim = NumSub * SubDim
    rows.indices.toArray.map { i =>
      val x = rows(i); val u = us(i)
      val code = if (prev != null) prev(i).clone()
        else Array.tabulate(NumSub) { s =>
          val o = s * SubDim
          var bc = 0; var bd = Double.PositiveInfinity
          var c = 0
          while (c < cb.length) {
            var l2 = 0.0; var j = 0
            while (j < SubDim) {
              val r = x(o + j) - cb(c)(o + j); l2 += r * r; j += 1
            }
            if (l2 < bd) { bd = l2; bc = c }
            c += 1
          }
          bc
        }
      var round = 0
      while (round < rounds) {
        var s = 0
        while (s < NumSub) {
          val o = s * SubDim
          // residual sums over the OTHER subspaces (fixed this step)
          var l2o = 0.0; var paro = 0.0
          var k = 0
          while (k < NumSub) {
            if (k != s) {
              val ok = k * SubDim; val ck = cb(code(k))
              var j = 0
              while (j < SubDim) {
                val r = x(ok + j) - ck(ok + j)
                l2o += r * r; paro += u(ok + j) * r; j += 1
              }
            }
            k += 1
          }
          var bc = code(s); var bd = Double.PositiveInfinity
          var c = 0
          while (c < cb.length) {
            var l2s = 0.0; var pars = 0.0
            var j = 0
            while (j < SubDim) {
              val r = x(o + j) - cb(c)(o + j)
              l2s += r * r; pars += u(o + j) * r; j += 1
            }
            val par = paro + pars
            val cost = (l2o + l2s) + (eta - 1.0) * par * par
            if (cost < bd) { bd = cost; bc = c }
            c += 1
          }
          code(s) = bc
          s += 1
        }
        round += 1
      }
      code
    }
  }

  /** The anisotropic assignment distance (see [[trainCodebooksAniso]]).
    * Zero-norm subvectors have no direction → plain L2 for them.
    */
  private def anisoDist(x: Array[Double], c: Array[Double],
      eta: Double): Double = {
    val d = x.length
    var l2 = 0.0; var par = 0.0; var xx = 0.0
    var j = 0
    while (j < d) {
      val r = x(j) - c(j)
      l2 += r * r; par += x(j) * r; xx += x(j) * x(j)
      j += 1
    }
    if (xx == 0.0) l2 else l2 + (eta - 1.0) * par * par / xx
  }

  /** Lloyd's under the anisotropic loss: weighted assignment +
    * linear-solve update (8×8 SPD system per cluster per round,
    * Gaussian elimination with partial pivoting). Same deterministic
    * skeleton as [[lloyd]] — farthest-point init (by the SAME plain-L2
    * geometry so η only shapes refinement, not seeding), fixed
    * iteration count, degenerate-k padding.
    */
  private def lloydAniso(xs: Array[Array[Double]], k: Int, iters: Int,
      eta: Double): Array[Array[Double]] = {
    val d = xs.head.length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < d) { val t = a(j) - b(j); s += t * t; j += 1 }
      s
    }
    val kk = math.min(k, xs.length)
    val cents = new Array[Array[Double]](kk)
    cents(0) = xs(0).clone()
    val best = Array.fill(xs.length)(Double.PositiveInfinity)
    var c = 1
    while (c < kk) {
      var i = 0
      while (i < xs.length) {
        val dd = dist2(xs(i), cents(c - 1))
        if (dd < best(i)) best(i) = dd
        i += 1
      }
      var far = 0; var fd = -1.0; i = 0
      while (i < xs.length) {
        if (best(i) > fd) { fd = best(i); far = i }
        i += 1
      }
      cents(c) = xs(far).clone()
      c += 1
    }
    val assign = new Array[Int](xs.length)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < xs.length) {
        var bc = 0; var bd = Double.PositiveInfinity; var cc = 0
        while (cc < kk) {
          val dd = anisoDist(xs(i), cents(cc), eta)
          if (dd < bd) { bd = dd; bc = cc }
          cc += 1
        }
        assign(i) = bc
        i += 1
      }
      // per-cluster weighted-least-squares update:
      // A = n·I + (η−1)·Σ uuᵀ,  b = η·Σ x  (isotropic rows: A += I,
      // b += x — a zero-norm subvector has no parallel direction)
      val mats = Array.fill(kk)(new Array[Double](d * d))
      val rhs = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Int](kk)
      i = 0
      while (i < xs.length) {
        val a = assign(i); counts(a) += 1
        val x = xs(i)
        var xx = 0.0
        var j = 0
        while (j < d) { xx += x(j) * x(j); j += 1 }
        val m = mats(a); val b = rhs(a)
        if (xx == 0.0) {
          j = 0
          while (j < d) { m(j * d + j) += 1.0; b(j) += x(j); j += 1 }
        } else {
          val w = (eta - 1.0) / xx
          j = 0
          while (j < d) {
            m(j * d + j) += 1.0
            var l = 0
            while (l < d) { m(j * d + l) += w * x(j) * x(l); l += 1 }
            b(j) += eta * x(j)
            j += 1
          }
        }
        i += 1
      }
      var cc = 0
      while (cc < kk) {
        if (counts(cc) > 0) {
          val sol = solveSpd(mats(cc), rhs(cc), d)
          System.arraycopy(sol, 0, cents(cc), 0, d)
        }
        cc += 1
      }
      it += 1
    }
    if (kk < k) cents.take(kk) ++ Array.fill(k - kk)(cents(kk - 1).clone())
    else cents
  }

  /** Dense d×d solve (Gaussian elimination, partial pivoting) —
    * deterministic, d = 8 here so cost is trivial.
    */
  private def solveSpd(aIn: Array[Double], bIn: Array[Double],
      d: Int): Array[Double] = {
    val a = aIn.clone(); val b = bIn.clone()
    var col = 0
    while (col < d) {
      var piv = col; var pv = math.abs(a(col * d + col))
      var r = col + 1
      while (r < d) {
        val v = math.abs(a(r * d + col))
        if (v > pv) { pv = v; piv = r }
        r += 1
      }
      if (pv > 0.0) {
        if (piv != col) {
          var j = 0
          while (j < d) {
            val t = a(col * d + j); a(col * d + j) = a(piv * d + j)
            a(piv * d + j) = t; j += 1
          }
          val t = b(col); b(col) = b(piv); b(piv) = t
        }
        r = col + 1
        while (r < d) {
          val f = a(r * d + col) / a(col * d + col)
          var j = col
          while (j < d) { a(r * d + j) -= f * a(col * d + j); j += 1 }
          b(r) -= f * b(col)
          r += 1
        }
      }
      col += 1
    }
    val x = new Array[Double](d)
    var r = d - 1
    while (r >= 0) {
      var s = b(r)
      var j = r + 1
      while (j < d) { s -= a(r * d + j) * x(j); j += 1 }
      x(r) = if (a(r * d + r) != 0.0) s / a(r * d + r) else 0.0
      r -= 1
    }
    x
  }

  /** Deterministic k-means for one subspace: farthest-point init
    * (same scheme as the router's super-centroid fit) + fixed Lloyd
    * rounds; empty clusters re-seed from the farthest point, ties
    * break on the lowest index.
    */
  private def lloyd(xs: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val d = xs.head.length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < d) { val t = a(j) - b(j); s += t * t; j += 1 }
      s
    }
    val kk = math.min(k, xs.length)
    val cents = new Array[Array[Double]](kk)
    cents(0) = xs(0).clone()
    val best = Array.fill(xs.length)(Double.PositiveInfinity)
    var c = 1
    while (c < kk) {
      var i = 0
      while (i < xs.length) {
        val dd = dist2(xs(i), cents(c - 1))
        if (dd < best(i)) best(i) = dd
        i += 1
      }
      var far = 0; var fd = -1.0; i = 0
      while (i < xs.length) {
        if (best(i) > fd) { fd = best(i); far = i }
        i += 1
      }
      cents(c) = xs(far).clone()
      c += 1
    }
    val assign = new Array[Int](xs.length)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < xs.length) {
        var bc = 0; var bd = Double.PositiveInfinity; var cc = 0
        while (cc < kk) {
          val dd = dist2(xs(i), cents(cc))
          if (dd < bd) { bd = dd; bc = cc }
          cc += 1
        }
        assign(i) = bc
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Int](kk)
      i = 0
      while (i < xs.length) {
        val a = assign(i); counts(a) += 1
        var j = 0
        while (j < d) { sums(a)(j) += xs(i)(j); j += 1 }
        i += 1
      }
      var cc = 0
      while (cc < kk) {
        if (counts(cc) > 0) {
          var j = 0
          while (j < d) { cents(cc)(j) = sums(cc)(j) / counts(cc); j += 1 }
        }
        cc += 1
      }
      it += 1
    }
    // pad degenerate k with copies of the last centroid (encode's
    // lowest-code tie-break keeps duplicates harmless)
    if (kk < k) cents.take(kk) ++ Array.fill(k - kk)(cents(kk - 1).clone())
    else cents
  }

  /** Orthonormal-basis ROTATION as a (fully codegen) expression:
    * rotated(j) = ⟨v, basis(j)⟩ — d existing `DotProduct` expressions
    * assembled into an array, no new Catalyst node needed. With
    * orthonormal rows, inner products are preserved
    * (⟨Bx, Bq⟩ = ⟨x, q⟩), which is what lets a rotated PQ tier serve
    * the same dot-product ranking.
    */
  def rotateExpr(vec: Column, basis: Array[Array[Double]]): Column =
    org.apache.spark.sql.graftshim.Shims.column(graft.functions.MatVec(
      org.apache.spark.sql.graftshim.Shims.expression(
        vec.cast("array<double>")), basis))

  /** Driver-side mirror of [[rotateExpr]] (forward accumulation, same
    * IEEE order as the DotProduct codegen).
    */
  def rotate(x: Array[Double], basis: Array[Array[Double]]): Array[Double] =
    basis.map { b =>
      var s = 0.0; var j = 0
      while (j < b.length) { s += x(j) * b(j); j += 1 }
      s
    }

  /** The d×d identity basis (OPQ's starting rotation). */
  def identityBasis(d: Int): Array[Array[Double]] =
    Array.tabulate(d)(j => Array.tabulate(d)(i => if (i == j) 1.0 else 0.0))

  /** Decode a packed code word back to its reconstruction: subspace
    * s's 4-bit index selects codebook entry slice [8s, 8s+8), the
    * slices concatenate — the scan-side mirror of the driver-side
    * recon the OPQ trainer uses. The per-subspace lookup is an
    * `element_at` into a 16-row literal table, all codegen. A
    * RECLUSTER of a PQ layout fits fresh leaf geometry over these
    * reconstructions (the raw vectors are gone by design); encoding a
    * reconstruction reproduces the identical code word (each slice IS
    * a codebook entry — distance 0 to itself), so a recluster never
    * degrades stored codes. On an OPQ layout the reconstruction lives
    * in ROTATED space — un-rotate with [[unrotateExpr]] before
    * fitting leaf geometry, which the build derived in raw space.
    */
  def decodeExpr(packed: Column, cb: Seq[Array[Double]]): Column = {
    require(cb.length == NumCodes, s"expected $NumCodes codebook rows")
    val subs = (0 until NumSub).map { s =>
      val code = shiftright(packed, 4 * s).bitwiseAND(lit(15L)).cast("int")
      val lut = array(cb.map(c =>
        typedLit(c.slice(s * SubDim, (s + 1) * SubDim).toSeq)): _*)
      element_at(lut, code + 1)
    }
    flatten(array(subs: _*))
  }

  /** Inverse of [[rotateExpr]] for an ORTHONORMAL basis: x = Bᵀy. */
  def unrotateExpr(vec: Column, basis: Array[Array[Double]]): Column =
    rotateExpr(vec, transposed(basis))

  /** Bᵀ — the inverse rotation of an orthonormal B. */
  def transposed(basis: Array[Array[Double]]): Array[Array[Double]] = {
    val rows = basis.length
    val cols = if (rows == 0) 0 else basis(0).length
    Array.tabulate(cols)(i => Array.tabulate(rows)(j => basis(j)(i)))
  }

  /** Per-subspace recon of one ROTATED row under `cb` — the chosen
    * (argmin-L2, lowest-code tie) entry per subspace, concatenated;
    * the training-time mirror of what [[encodeExpr]]+ADC serve.
    */
  private def reconOf(r: Array[Double], cb: Seq[Array[Double]])
      : Array[Double] = {
    val out = new Array[Double](r.length)
    var s = 0
    while (s < NumSub) {
      var bestC = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < NumCodes) {
        var dd = 0.0; var j = 0
        while (j < SubDim) {
          val t = r(s * SubDim + j) - cb(c)(s * SubDim + j)
          dd += t * t; j += 1
        }
        if (dd < bestD) { bestD = dd; bestC = c }
        c += 1
      }
      System.arraycopy(cb(bestC), s * SubDim, out, s * SubDim, SubDim)
      s += 1
    }
    out
  }

  /** Per-subspace Lloyd fit over already-materialized rows — the
    * shared core of [[trainCodebooks]] and [[trainOpq]].
    */
  private def fitSubspaces(rows: Array[Array[Double]],
      iters: Int): Seq[Array[Double]] = {
    val dim = rows.head.length
    val out = Array.fill(NumCodes)(new Array[Double](dim))
    var s = 0
    while (s < NumSub) {
      val slices = rows.map(_.slice(s * SubDim, s * SubDim + SubDim))
      val cents = lloyd(slices, NumCodes, iters)
      var c = 0
      while (c < NumCodes) {
        System.arraycopy(cents(c), 0, out(c), s * SubDim, SubDim)
        c += 1
      }
      s += 1
    }
    out.toSeq
  }

  /** OPTIMIZED product quantization (OPQ, Ge et al. CVPR 2013 /
    * ScaNN & FAISS `OPQMatrix`): learn an ORTHOGONAL rotation B and
    * codebooks cb jointly so the subspace split falls along the
    * data's own axes — plain PQ quantizes fixed 8-dim slices, which
    * wastes precision when variance is spread across correlated
    * dimensions; rotating first concentrates it. Alternating
    * minimization of ‖B·x − recon(B·x)‖²:
    *
    *  1. fix B → fit per-subspace codebooks on the rotated sample
    *     (exact [[trainCodebooks]] objective);
    *  2. fix codebooks → the best orthogonal B is the orthogonal
    *     Procrustes solution: with N = Σᵢ xᵢ·qᵢᵀ (qᵢ = the rotated
    *     row's recon), SVD N = U·S·Vᵀ gives B = V·Uᵀ.
    *
    * Deterministic like every fit in this engine: hash-sampled
    * id-sorted rows, farthest-point Lloyd init, fixed iteration
    * counts, driver-local (d×d SVD of a 64×64 matrix — Breeze, the
    * linear-algebra dependency Spark itself ships). Returns (basis
    * rows, codebooks IN ROTATED SPACE); encode with
    * `encodeExpr(rotateExpr(v, basis), cb)` and serve ADC with the
    * ROTATED query — inner products are preserved by orthonormality,
    * so scores rank identically to the unrotated metric.
    */
  def trainOpq(emb: DataFrame, idCol: String, vecCol: String,
      maxSample: Int = 20000, outer: Int = 8, iters: Int = 4)
      : (Array[Array[Double]], Seq[Array[Double]]) = {
    val n = emb.count()
    val sampled =
      if (n <= maxSample) emb
      else emb.filter(
        pmod(xxhash64(col(idCol)), lit(1000000L)) <
          lit((maxSample.toLong * 1000000L) / n))
    val rows = sampled
      .select(col(idCol).cast("string"), col(vecCol).cast("array<double>"))
      .collect().sortBy(_.getString(0))
      .map(_.getSeq[Double](1).toArray)
    require(rows.nonEmpty, "cannot train OPQ on an empty corpus")
    val d = rows.head.length
    require(d == NumSub * SubDim,
      s"expected ${NumSub * SubDim}-dim vectors, got $d")
    // PARAMETRIC init (Ge et al. §4): identity is a fixed point of
    // the alternation (N = Σ x·reconᵀ is near-symmetric-PSD there, so
    // Procrustes returns ≈I and nothing ever moves). Start instead
    // from PCA with BALANCED EIGENVALUE ALLOCATION: eigen-decompose
    // the sample covariance, then deal eigenvectors (variance
    // descending) to the subspace with the smallest current
    // log-variance product — each 8-dim slice gets comparable energy,
    // which is the whole point of rotating before splitting.
    var basis = {
      val mean = new Array[Double](d)
      rows.foreach { x =>
        var j = 0; while (j < d) { mean(j) += x(j); j += 1 }
      }
      var j = 0
      while (j < d) { mean(j) /= rows.length; j += 1 }
      val cov = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      rows.foreach { x =>
        var a = 0
        while (a < d) {
          val xa = x(a) - mean(a)
          var b = 0
          while (b < d) { cov(a, b) += xa * (x(b) - mean(b)); b += 1 }
          a += 1
        }
      }
      cov :/= rows.length.toDouble
      val es = breeze.linalg.eigSym(cov)
      // descending variance; guard against tiny negatives from fp
      val order = (0 until d).sortBy(i => -es.eigenvalues(i))
      val logs = new Array[Double](NumSub)
      val slots = Array.fill(NumSub)(0)
      val rowsOut = Array.ofDim[Double](d, d)
      order.foreach { ei =>
        val s = (0 until NumSub)
          .filter(slots(_) < SubDim)
          .minBy(s => (logs(s), s))
        val row = s * SubDim + slots(s)
        var k = 0
        while (k < d) { rowsOut(row)(k) = es.eigenvectors(k, ei); k += 1 }
        logs(s) += math.log(math.max(es.eigenvalues(ei), 1e-12))
        slots(s) += 1
      }
      rowsOut
    }
    var cb: Seq[Array[Double]] = null
    var t = 0
    while (t < outer) {
      val rot = rows.map(rotate(_, basis))
      cb = fitSubspaces(rot, iters)
      // Procrustes step: N = Σ x·reconᵀ, B = V·Uᵀ from N = U·S·Vᵀ
      val nMat = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      var i = 0
      while (i < rows.length) {
        val x = rows(i); val q = reconOf(rot(i), cb)
        var a = 0
        while (a < d) {
          var b = 0
          while (b < d) { nMat(a, b) += x(a) * q(b); b += 1 }
          a += 1
        }
        i += 1
      }
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(nMat)
      val bMat = vt.t * u.t
      basis = Array.tabulate(d)(r => Array.tabulate(d)(c => bMat(r, c)))
      t += 1
    }
    // codebooks must match the FINAL rotation
    cb = fitSubspaces(rows.map(rotate(_, basis)), iters)
    (basis, cb)
  }

  /** Mean PQ reconstruction error (the training objective): per row,
    * Σ over subspaces of the CHOSEN entry's squared distance — the
    * same per-subspace argmin [[encodeExpr]] takes, summed instead of
    * packed. One aggregate, no shuffle beyond it.
    */
  def reconstructionError(emb: DataFrame, vecCol: String,
      cb: Seq[Array[Double]]): Double = {
    require(cb.length == NumCodes, s"expected $NumCodes codebook rows")
    val v = col(vecCol).cast("array<double>")
    val err = (0 until NumSub).map { s =>
      val dists = array(cb.map { c =>
        val e = graft.functions.vectors.l2Distance(
          slice(v, s * SubDim + 1, SubDim),
          typedLit(c.slice(s * SubDim, s * SubDim + SubDim).toSeq))
        e * e
      }: _*)
      array_min(dists)
    }.reduce(_ + _)
    emb.agg(avg(err)).head().getDouble(0)
  }

  /** Codebook sidecar format version — [[loadCodebook]] refuses a
    * version it doesn't know rather than misreading it (same contract
    * as the IVF model sidecar).
    */
  val CodebookFormatVersion = 1

  /** The codebook sidecar lives UNDER the coded layout with a
    * `_`-prefixed name (hidden from Spark's file listing, like the
    * IVF `_graft_model` sidecar): a code table without its codebook
    * is unreadable — codes are indices into it — so the two must
    * travel together. 16 rows; no chunking needed.
    */
  def codebookDir(path: String): String = path + "/_graft_pq"

  /** Persist the codebook next to the code table it encodes, so a
    * fresh serving session can open the layout path alone and both
    * ENCODE upserts and ADC-score queries ([[loadCodebook]]).
    */
  /** OPQ rotation sidecar of a coded serving layout: the orthonormal
    * basis rows [[trainOpq]] learned, persisted beside the codebook
    * so a fresh serving session can encode upserts and rotate
    * queries with no re-train. Optional — a layout without one is a
    * plain-PQ tier.
    */
  def rotationDir(path: String): String = path + "/_graft_opq"

  def writeRotation(spark: org.apache.spark.sql.SparkSession,
      path: String, basis: Array[Array[Double]]): Unit = {
    import spark.implicits._
    basis.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("row", "vec")
      .coalesce(1).write.mode("overwrite").parquet(rotationDir(path))
  }

  def loadRotation(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Array[Array[Double]]] = {
    val dir = new org.apache.hadoop.fs.Path(rotationDir(path))
    sidecarRows(spark, dir, Seq("row", "vec")).map { rows =>
      val basis = rows.map(_(1).asInstanceOf[Array[Double]]).toArray
      require(basis.nonEmpty && basis.zipWithIndex.forall {
          case (r, i) => rows(i)(0) == i && r != null && r.length == basis.length
        },
        s"OPQ rotation sidecar at $dir is malformed " +
          s"(${basis.length} rows)")
      basis
    }
  }

  /** A sidecar's rows by their first (int) column, read on the driver
    * ([[MetaIO]], as [[IvfIndex.load]]; no Spark job). None: no `dir`. */
  private def sidecarRows(spark: org.apache.spark.sql.SparkSession,
      dir: org.apache.hadoop.fs.Path, cols: Seq[String]): Option[Seq[Array[Any]]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) None
    else Some(MetaIO.read(conf, fs, dir, cols).sortBy(_(0).asInstanceOf[Int]))
  }

  def writeCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String, cb: Seq[Array[Double]]): Unit = {
    require(cb.length == NumCodes,
      s"expected $NumCodes codebook rows, got ${cb.length}")
    import spark.implicits._
    cb.zipWithIndex.map { case (v, c) => (c, v.toSeq, CodebookFormatVersion) }
      .toDF("code", "vec", "format_version")
      .coalesce(1).write.mode("overwrite").parquet(codebookDir(path))
  }

  /** Reopen the codebook from a coded layout's own sidecar. Loud on a
    * data-only path or an unknown format version.
    */
  def loadCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Array[Double]] = {
    val dir = new org.apache.hadoop.fs.Path(codebookDir(path))
    val found = sidecarRows(spark, dir, Seq("code", "vec", "format_version"))
    require(found.isDefined,
      s"no codebook sidecar at $dir — this layout's codes cannot be " +
        "decoded or extended; write one with writeCodebook at build time")
    val rows = found.get
    if (rows.isEmpty) throw new IllegalStateException(
      s"codebook sidecar at $dir has no rows — rewrite it with writeCodebook")
    val version = rows.head(2)
    require(version == CodebookFormatVersion,
      s"codebook sidecar format v$version at $dir; " +
        s"this build reads v$CodebookFormatVersion")
    require(rows.length == NumCodes &&
        rows.zipWithIndex.forall { case (r, i) => r(0) == i && r(1) != null },
      s"codebook sidecar at $dir is malformed: expected codes 0 until " +
        s"$NumCodes, got ${rows.map(_(0)).mkString(",")}")
    rows.map(_(1).asInstanceOf[Array[Double]])
  }
}

/** ADC score of one packed code against a PER-ROW query vector, with
  * the codebook as a referenced object ([[ProductQuantizer.adcDirectExpr]]):
  * subspace s contributes the forward dot of the query's and the
  * selected code row's slice, subspaces accumulate in ascending order
  * — bit-identical to the literal-table path (`adcScoreExpr`) and the
  * oracle's t0+t1+…+t7.
  */
case class AdcDirect(left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression,
    cb: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  import org.apache.spark.sql.types._
  override def inputTypes: Seq[DataType] =
    Seq(LongType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc_direct"

  override def nullSafeEval(a: Any, b: Any): Any =
    AdcDirect.score(a.asInstanceOf[Long],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cb)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("cb", cb, "double[][]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.operators.AdcDirect.score($a, $b, $ref)")
  }

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): AdcDirect =
    copy(left = l, right = r)
}

/** Packed PQ code of one vector, with the codebook as a referenced
  * object ([[ProductQuantizer.encodeExpr]]): per subspace, the
  * argmin-L2 codebook row (forward-accumulated squared diffs + sqrt —
  * the exact arithmetic of `graft_l2` — ties to the LOWEST code via
  * the strict-< scan from code 0), packed 4 bits per subspace. One
  * referenced double[][] instead of 128 inlined literal arrays keeps
  * the generated method far under janino's 64 KB limit, so encode
  * stays inside whole-stage codegen.
  */
case class PqEncode(child: org.apache.spark.sql.catalyst.expressions.Expression,
    cb: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  import org.apache.spark.sql.types._
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(v: Any): Any =
    PqEncode.encode(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cb)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("cb", cb, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.operators.PqEncode.encode($v, $ref)")
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): PqEncode =
    copy(child = c)
}

object PqEncode {
  /** Called from generated code. */
  def encode(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cb: Array[Array[Double]]): Long = {
    val vn = v.numElements()
    var packed = 0L
    var s = 0
    while (s < ProductQuantizer.NumSub) {
      val base = s * ProductQuantizer.SubDim
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ProductQuantizer.NumCodes) {
        val row = cb(c)
        // min-length semantics of the slice+graft_l2 composition: a
        // shorter vector or codebook row compares only the overlap
        var d = 0.0
        var j = 0
        val lim = java.lang.Math.min(
          java.lang.Math.min(vn, row.length) - base,
          ProductQuantizer.SubDim)
        while (j < lim) {
          val t = v.getDouble(base + j) - row(base + j)
          d += t * t
          j += 1
        }
        // sqrt to mirror graft_l2 / the oracle's list_distance: the
        // tie-break compares the SAME rounded values both engines see
        val dist = java.lang.Math.sqrt(d)
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      packed |= best.toLong << (4 * s)
      s += 1
    }
    packed
  }
}

object AdcDirect {
  /** Called from generated code. */
  def score(code: Long,
      q: org.apache.spark.sql.catalyst.util.ArrayData,
      cb: Array[Array[Double]]): Double = {
    var acc = 0.0
    var s = 0
    while (s < ProductQuantizer.NumSub) {
      val row = cb(((code >> (4 * s)) & 15L).toInt)
      val base = s * ProductQuantizer.SubDim
      var t = 0.0
      var j = 0
      while (j < ProductQuantizer.SubDim) {
        t += q.getDouble(base + j) * row(base + j)
        j += 1
      }
      acc += t
      s += 1
    }
    acc
  }
}
