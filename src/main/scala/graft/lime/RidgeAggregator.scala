package graft.lime

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Per-instance weighted-ridge surrogate fit (SURVEY.md §2.7
  * lime_fit_ridge).
  *
  * Accumulates the normal equations XᵀWX and XᵀWy over one instance's
  * perturbation samples (X includes an unpenalized intercept column),
  * then solves (XᵀWX + λI')β = XᵀWy by Cholesky in finish. The explain
  * paths build the same buffer in the plan (the fan-out's built-in sums,
  * [[Lime.ridgeBuffer]], or a per-row fold, [[NormalEquations]]) and
  * call `finish` on it; `zero`/`reduce`/`merge` are the reference
  * those buffers are pinned against.
  *
  * Matches the public LIME default surrogate: sklearn
  * Ridge(alpha=1.0, fit_intercept=True) over binary features with
  * sample_weight = kernel weights (marcotcr/lime lime_base.py,
  * explain_instance_with_data).
  */
case class RidgeSample(z: Array[Double], y: Double, w: Double)

case class RidgeFit(coefs: Seq[Double], intercept: Double, r2: Double, localPred: Double)

/** @param kSelect number of features to keep when `forward` is true
  * @param forward forward selection (public LIME's method for small
  *   d'): greedily add the feature whose subset ridge fit minimizes
  *   weighted SSE. Runs entirely in `finish` on the accumulated Gram
  *   matrix — subset normal equations are submatrices of XᵀWX, so no
  *   extra distributed pass is needed. Unselected coefs emit as 0.
  */
class RidgeAggregator(val d: Int, val lambda: Double,
                      val kSelect: Int = Int.MaxValue, val forward: Boolean = false)
    extends Serializable {

  private val m = d + 1 // intercept column at index 0
  // buffer layout: [G: m*m | b: m | sw, swy, swyy]
  private val gOff = 0
  private val bOff = m * m
  private val sOff = m * m + m

  def zero: Array[Double] = new Array[Double](m * m + m + 3)

  def reduce(buf: Array[Double], s: RidgeSample): Array[Double] = {
    val x = new Array[Double](m)
    x(0) = 1.0
    var i = 0
    while (i < d) { x(i + 1) = s.z(i); i += 1 }
    // G is symmetric: each upper-triangle term (w·x_r)·x_c, r ≤ c, is
    // added to both (r, c) and (c, r), so both halves hold the same
    // sums (the codegen'd SQL form in Lime.ridgeBuffer does the same)
    var r = 0
    while (r < m) {
      val wr = s.w * x(r)
      var c = r
      while (c < m) {
        val t = wr * x(c)
        buf(gOff + r * m + c) += t
        if (c != r) buf(gOff + c * m + r) += t
        c += 1
      }
      buf(bOff + r) += wr * s.y
      r += 1
    }
    buf(sOff) += s.w
    buf(sOff + 1) += s.w * s.y
    buf(sOff + 2) += s.w * s.y * s.y
    buf
  }

  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Ridge fit restricted to the columns in `idxs` (index 0 =
    * intercept, unpenalized). Returns (beta over idxs, weighted SSres
    * = swyy − 2βᵀb + βᵀGβ on the unpenalized subset Gram).
    */
  private def solveSubset(buf: Array[Double], idxs: Array[Int]): (Array[Double], Double) = {
    val n = idxs.length
    val a = Array.tabulate(n, n)((r, c) =>
      buf(gOff + idxs(r) * m + idxs(c)) +
        (if (r == c && idxs(r) > 0) lambda else 0.0))
    val b = Array.tabulate(n)(r => buf(bOff + idxs(r)))
    val beta = solveCholesky(a, b, n)
    var btGb = 0.0
    var r = 0
    while (r < n) {
      var c = 0
      var row = 0.0
      while (c < n) { row += buf(gOff + idxs(r) * m + idxs(c)) * beta(c); c += 1 }
      btGb += beta(r) * row
      r += 1
    }
    var btB = 0.0
    r = 0
    while (r < n) { btB += beta(r) * b(r); r += 1 }
    (beta, buf(sOff + 2) - 2.0 * btB + btGb)
  }

  def finish(buf: Array[Double]): RidgeFit = {
    val selected: Array[Int] =
      if (!forward || kSelect >= d) Array.range(0, m)
      else {
        var sel = Array(0)
        var round = 0
        while (round < math.min(kSelect, d)) {
          var bestJ = -1
          var bestSse = Double.MaxValue
          var j = 1
          while (j < m) {
            if (!sel.contains(j)) {
              val (_, sse) = solveSubset(buf, sel :+ j)
              if (sse < bestSse - 1e-12) { bestSse = sse; bestJ = j }
            }
            j += 1
          }
          if (bestJ < 0) round = kSelect
          else { sel :+= bestJ; round += 1 }
        }
        sel
      }
    val (betaSub, ssRes) = solveSubset(buf, selected)
    val sw = buf(sOff); val swy = buf(sOff + 1); val swyy = buf(sOff + 2)
    val ssTot = swyy - swy * swy / math.max(sw, 1e-12)
    val r2 = if (ssTot <= 0) 1.0 else 1.0 - ssRes / ssTot
    val full = new Array[Double](m)
    var i = 0
    while (i < selected.length) { full(selected(i)) = betaSub(i); i += 1 }
    // local prediction at the instance itself for the BINARY rep
    // (all-ones); in continuous mode callers should recompute
    // intercept + beta . z_instance downstream
    val localPred = betaSub.sum
    RidgeFit(full.drop(1).toSeq, full(0), r2, localPred)
  }

  /** Cholesky solve with jitter fallback for collinear binary columns. */
  private def solveCholesky(a0: Array[Array[Double]], b: Array[Double], n: Int = m): Array[Double] = {
    val m = n // shadows the field: all loops below are n×n
    var jitter = 0.0
    var attempt = 0
    while (attempt < 4) {
      val a = Array.tabulate(m, m)((r, c) => a0(r)(c) + (if (r == c) jitter else 0.0))
      val l = Array.ofDim[Double](m, m)
      var ok = true
      var j = 0
      while (j < m && ok) {
        var s = a(j)(j)
        var k = 0
        while (k < j) { s -= l(j)(k) * l(j)(k); k += 1 }
        if (s <= 0) ok = false
        else {
          l(j)(j) = math.sqrt(s)
          var i = j + 1
          while (i < m) {
            var t = a(i)(j)
            k = 0
            while (k < j) { t -= l(i)(k) * l(j)(k); k += 1 }
            l(i)(j) = t / l(j)(j)
            i += 1
          }
        }
        j += 1
      }
      if (ok) {
        // forward then back substitution
        val y = new Array[Double](m)
        var i = 0
        while (i < m) {
          var t = b(i)
          var k = 0
          while (k < i) { t -= l(i)(k) * y(k); k += 1 }
          y(i) = t / l(i)(i)
          i += 1
        }
        val x = new Array[Double](m)
        i = m - 1
        while (i >= 0) {
          var t = y(i)
          var k = i + 1
          while (k < m) { t -= l(k)(i) * x(k); k += 1 }
          x(i) = t / l(i)(i)
          i -= 1
        }
        return x
      }
      jitter = if (jitter == 0) 1e-8 else jitter * 100
      attempt += 1
    }
    new Array[Double](m) // degenerate: all-zero fit
  }
}

/** One row's normal equations folded in sample order into
  * [[RidgeAggregator]]'s buffer layout [G: m·m | b: m | Σw, Σw·y, Σw·y·y]
  * (m = d' + 1, x₀ = 1): the inner loop of [[Lattice.fold]] and
  * [[MaskFold.fold]], so it allocates nothing.
  */
private[lime] object NormalEquations {

  def zero(m: Int): Array[Double] = new Array[Double](m * m + m + 3)

  /** Adds sample (x, y, w) to G's upper triangle, b and the three sums,
    * each term in `RidgeAggregator.reduce`'s multiply order.
    */
  def add(buf: Array[Double], x: Array[Double], y: Double, w: Double): Unit = {
    val m = x.length
    val bOff = m * m
    var r = 0
    while (r < m) {
      val wr = w * x(r)
      var c = r
      while (c < m) { buf(r * m + c) += wr * x(c); c += 1 }
      buf(bOff + r) += wr * y
      r += 1
    }
    buf(bOff + m) += w
    buf(bOff + m + 1) += w * y
    buf(bOff + m + 2) += w * y * y
  }

  /** Mirrors G's upper triangle into its lower one, which `reduce` fills
    * with the same terms: the result is its buffer bit for bit, and the
    * fan-out's (Spark's `sum` adds a partial to 0.0 once more, a no-op on
    * a sum that started at +0.0, which is never −0.0).
    */
  def close(buf: Array[Double], m: Int): ArrayData = {
    var r = 0
    while (r < m) {
      var c = r + 1
      while (c < m) { buf(c * m + r) = buf(r * m + c); c += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(buf)
  }
}
