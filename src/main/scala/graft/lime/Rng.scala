package graft.lime

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Counter-based deterministic RNG as Catalyst column expressions.
  *
  * LIME perturbation must be a pure function of
  * (seed, instance_id, sample_id, feature) — never of partition
  * layout. Spark's rand(seed) is partition-dependent (SURVEY.md §7.3),
  * so we derive uniforms from xxhash64 over the counter tuple and map
  * them through Acklam's inverse-normal-CDF approximation (public
  * algorithm, relative error < 1.15e-9). Everything stays inside
  * whole-stage codegen — no UDFs.
  *
  * Φ⁻¹ is a scalar function behind one codegen'd expression, not a
  * tree of Column operators: such a tree repeats the uniform `u` (an
  * inlined xxhash64) in every branch and Horner step, which pushes the
  * perturb stage's per-row method past HotSpot's 8,000-byte JIT limit
  * so that it runs interpreted. The scalar form evaluates the same
  * operations in the same order as that tree (Catalyst's `Log` is
  * `StrictMath.log`; `Math.sqrt` is correctly rounded), so the draws
  * match it bit-for-bit; LimeSpec pins them.
  */
object Rng {

  /** U(0,1) in [2^-54, 1): top 53 bits of xxhash64 over the counter
    * columns, never exactly 0 so ln(u) is safe.
    */
  def u01(counters: Column*): Column =
    (shiftrightunsigned(xxhash64(counters: _*), 11).cast("double") + lit(0.5)) / lit(9007199254740992.0) // 2^53

  /** The scalar twin of [[u01]], for the chain `u01(seed, id, sample,
    * tag)` that perturb draws from: `idHash` is `xxhash64(seed, id)`,
    * which hashes the id by its column type, and the chain continues
    * as xxhash64 does with an integer sample id and a string tag.
    */
  def u01(idHash: Long, sample: Int, tag: UTF8String): Double =
    unit(XXH64.hashUnsafeBytes(tag.getBaseObject, tag.getBaseOffset, tag.numBytes,
      XXH64.hashInt(sample, idHash)))

  /** [[u01]]'s scalar twin with an integer tag (an image's superpixel). */
  def u01(idHash: Long, sample: Int, tag: Int): Double =
    unit(XXH64.hashInt(tag, XXH64.hashInt(sample, idHash)))

  private def unit(h: Long): Double = ((h >>> 11).toDouble + 0.5) / 9007199254740992.0

  private val A = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
    1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
  private val B = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
    6.680131188771972e+01, -1.328068155288572e+01)
  private val C = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
    -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
  private val D = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
    3.754408661907416e+00)
  private val pLow = 0.02425
  private val pHigh = 1.0 - pLow

  /** Horner fold c₀·xⁿ + … + cₙ as ((c₀·x + c₁)·x + …) + cₙ. */
  private def poly(c: Array[Double], x: Double): Double = {
    var acc = c(0)
    var i = 1
    while (i < c.length) { acc = acc * x + c(i); i += 1 }
    acc
  }

  /** Acklam's Φ⁻¹(u): rational approximations on three regions. */
  def phiInv(u: Double): Double =
    if (u < pLow) {
      val q = Math.sqrt(-2.0 * StrictMath.log(u))
      poly(C, q) / (poly(D, q) * q + 1.0)
    } else if (u > pHigh) {
      val q = Math.sqrt(-2.0 * StrictMath.log(1.0 - u))
      -(poly(C, q) / (poly(D, q) * q + 1.0))
    } else {
      val q = u - 0.5
      val r = q * q
      poly(A, r) * q / (poly(B, r) * r + 1.0)
    }

  /** Standard normal draw for a counter tuple. */
  def gaussian(counters: Column*): Column =
    GraftColumnShim.column(Gaussian(GraftColumnShim.expression(u01(counters: _*))))
}

/** Φ⁻¹ of a uniform as one expression: generated code is a single call
  * into [[Rng.phiInv]], and interpreted eval calls the same function.
  */
private[lime] case class Gaussian(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "gaussian"

  override def nullSafeEval(u: Any): Any = Rng.phiInv(u.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, u => s"graft.lime.Rng.phiInv($u)")

  override protected def withNewChildInternal(newChild: Expression): Gaussian =
    copy(child = newChild)
}
