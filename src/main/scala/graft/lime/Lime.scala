package graft.lime

import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, ObjectType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.reflect.runtime.universe.TypeTag

/** A value fixed for one query but not for the code that evaluates it:
  * non-foldable, so ConstantFolding cannot turn it back into a literal,
  * and its generated code reads the value from the `references` array
  * once per task into a field instead of writing it into the source.
  * Plans that differ only in these values generate identical Java and
  * share one compiled class.
  *
  * A named value holds one statistic of an explain request (its `name`,
  * e.g. `edges:l_tax`, says which; see `Lime.statValues`): a
  * [[RequestTemplate]] holds it empty and binds each request's value by
  * that name. An unnamed value is a constant of the code that built it.
  */
private[lime] case class BoundValue(value: Any, dataType: DataType, name: String = "")
    extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  // Independent of the value: subexpression elimination orders the
  // common subexpressions it extracts by hash, so a value-dependent
  // hash would reorder the generated methods from request to request.
  override def hashCode(): Int = dataType.hashCode()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    val v = ctx.addMutableState(javaType, "bound", v => s"$v = $read;", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(v, dataType))
  }
}

/** [[Lime.drawIndex]] as one expression. A chain of `when(u < c, i)`
  * branches would repeat the uniform's hash once per branch and, at ten
  * bins or a few dozen categories, push the perturb stage's generated
  * method past HotSpot's 8,000-byte JIT limit.
  */
private[lime] case class DrawIndex(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def nullSafeEval(u: Any, cumFreqs: Any): Any =
    Lime.drawIndex(u.asInstanceOf[Double], cumFreqs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, c) => s"graft.lime.Lime.drawIndex($u, $c)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DrawIndex =
    copy(left = l, right = r)
}

/** [[Lime.binIndex]] as one expression, with a null input in bin 0 —
  * what the chain of `when(x > e, i)` branches it replaces gave, in
  * one small call instead of a branch per edge.
  */
private[lime] case class BinIndex(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = left.eval(input) match {
    case null => 0
    case x => Lime.binIndex(x.asInstanceOf[Double], right.eval(input).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val x = left.genCode(ctx)
    val edges = right.genCode(ctx)
    ev.copy(code = code"""
      ${x.code}
      ${edges.code}
      int ${ev.value} = ${x.isNull} ? 0 : graft.lime.Lime.binIndex(${x.value}, ${edges.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BinIndex =
    copy(left = l, right = r)
}

/** A request's per-row ridge fold: regenerates one row's samples from
  * the counter RNG, scores and weighs them, and returns the row's ridge
  * buffer, summed in sample order ([[NormalEquations]]).
  */
private[lime] trait SampleFold extends Serializable {
  def fold(idHash: Long, row: AnyRef): ArrayData
}

/** [[SampleFold.fold]] as one expression over (the bound fold, the row's
  * `xxhash64(seed, id)`, its input).
  */
private[lime] case class FoldSamples(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(f: Any, idHash: Any, row: Any): Any =
    f.asInstanceOf[SampleFold].fold(idHash.asInstanceOf[Long], row.asInstanceOf[AnyRef])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, h, r) => s"$f.fold($h, $r)")

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): FoldSamples = copy(a, b, c)
}

/** One discretized request's lattice, everything its per-instance fold
  * reads that is fixed for the request: the features' RNG tags, bin
  * edges and cumulative draw frequencies, the category values, the
  * kernel weight per count of mismatched features, the black box's
  * score of every lattice cell (one array indexed by the cell's
  * mixed-radix code) and each instance's own score (keyed by
  * `xxhash64(seed, id)`, sorted).
  *
  * Features are numeric (`edges.length` of them, binned) then
  * categorical; `radix(j)` is feature j's number of bins or values.
  */
private[lime] final class Lattice(
    nSamples: Int,
    tags: Array[UTF8String],
    edges: Array[ArrayData],
    cumFreqs: Array[ArrayData],
    catValues: Array[Array[UTF8String]],
    radix: Array[Int],
    scores: Array[Double],
    keys: Array[Long],
    instanceScores: Array[Double],
    weights: Array[Double]) extends SampleFold {

  /** The ridge buffer of the instance whose id hashes to `idHash` and
    * whose feature values are the struct `row` (numeric as doubles, then
    * categorical as strings). Sample s draws feature j's bin or value
    * from `Rng.u01(idHash, s, tags(j))` as perturb does, so its z vector
    * and lattice cell are perturb's; sample 0 is the instance.
    */
  def fold(idHash: Long, row: AnyRef): ArrayData = {
    val inst = row.asInstanceOf[InternalRow]
    val nNum = edges.length
    val d = radix.length
    val m = d + 1
    val instBin = Array.tabulate(nNum)(j =>
      if (inst.isNullAt(j)) 0 else Lime.binIndex(inst.getDouble(j), edges(j)))
    // categorical z: is value k the instance's? (null is a category)
    val sameCat = Array.tabulate(d - nNum) { c =>
      val v = if (inst.isNullAt(nNum + c)) null else inst.getUTF8String(nNum + c)
      catValues(c).map(k => if (k == null) v == null else k == v)
    }
    val at = java.util.Arrays.binarySearch(keys, idHash)
    if (at < 0) throw new IllegalStateException(
      "explainTabular: an instance row is not among the rows the request was built from")
    val x = new Array[Double](m)
    x(0) = 1.0
    val buf = NormalEquations.zero(m)
    var s = 0
    while (s < nSamples) {
      var y = 0.0
      var miss = 0
      if (s == 0) {
        java.util.Arrays.fill(x, 1.0)
        y = instanceScores(at)
      } else {
        var code = 0
        var j = 0
        while (j < d) {
          val b = Lime.drawIndex(Rng.u01(idHash, s, tags(j)), cumFreqs(j))
          code = code * radix(j) + b
          val same = if (j < nNum) b == instBin(j) else sameCat(j - nNum)(b)
          x(j + 1) = if (same) 1.0 else 0.0
          if (!same) miss += 1
          j += 1
        }
        y = scores(code)
      }
      NormalEquations.add(buf, x, y, weights(miss))
      s += 1
    }
    NormalEquations.close(buf, m)
  }
}

/** A text document's or image's ridge buffer under the stand-in black
  * box of [[LimeText]] and [[LimeImage]]. The row is a struct (tags,
  * c_kept, c_masked, n) over its d' features: the words (null for
  * superpixels 0 … d' − 1), each feature's score term when kept and when
  * masked, and the score's normalizing count. Sample s > 0 keeps feature
  * j when `Rng.u01(idHash, s, tag_j) < 0.5`, scores
  * 1 / (1 + exp(−Σ_j term_j / √n)) and weighs sqrt(exp(−dist² / width²))
  * at the cosine distance (1 − √(kept / d'))·100, each step the Java
  * operation Catalyst compiles it to, in Catalyst's order: the same bits
  * as those formulas written as Column expressions.
  */
private[lime] final class MaskFold(nSamples: Int, width: Double) extends SampleFold {

  def fold(idHash: Long, row: AnyRef): ArrayData = {
    val r = row.asInstanceOf[InternalRow]
    val kept = r.getArray(1).toDoubleArray()
    val masked = r.getArray(2).toDoubleArray()
    val n = r.getInt(3).toDouble
    val d = kept.length
    val words = if (r.isNullAt(0)) null else Array.tabulate(d)(r.getArray(0).getUTF8String)
    val x = new Array[Double](d + 1)
    x(0) = 1.0
    val buf = NormalEquations.zero(d + 1)
    var s = 0
    while (s < nSamples) {
      var lin = 0.0
      var nKept = 0.0
      var j = 0
      while (j < d) {
        val keep =
          if (s == 0) 1.0
          else if ((if (words == null) Rng.u01(idHash, s, j) else Rng.u01(idHash, s, words(j))) < 0.5) 1.0
          else 0.0
        x(j + 1) = keep
        lin += keep * kept(j) + (1.0 - keep) * masked(j)
        nKept += keep
        j += 1
      }
      val y = 1.0 / (1.0 + StrictMath.exp(-lin / Math.sqrt(n)))
      val dist = (1.0 - Math.sqrt(nKept / d)) * 100.0
      NormalEquations.add(buf, x, y, Math.sqrt(StrictMath.exp(-dist * dist / (width * width))))
      s += 1
    }
    NormalEquations.close(buf, d + 1)
  }
}

/** One row of an explanation: a feature's rank, name (a string, or an
  * image's superpixel) and weight, with its row's fit. Every explain
  * path's solve returns these.
  */
private[lime] case class ExplainedFeature[N](rank: Int, feature: N, weight: Double,
                                             intercept: Double, r2: Double, local_pred: Double)

/** Distributed LIME for tabular data (SURVEY.md §2.7).
  *
  * Semantics follow the public algorithm (Ribeiro, Singh & Guestrin,
  * KDD 2016) and the canonical implementation defaults
  * (marcotcr/lime): quartile discretization of continuous features,
  * binary interpretable representation "falls in the same bin as the
  * instance", proximity kernel sqrt(exp(-d²/w²)) with default width
  * 0.75·√d', weighted Ridge(α=1) surrogate, top-K features by |coef|.
  *
  * Distribution strategy. Every request collects its instance set once
  * (O(features) per instance; numeric features cast to double,
  * categorical ones to string) and fits its statistics on the driver
  * ([[fitStatsLocal]], [[fitCatStatsLocal]]); they enter the plan as
  * run-time values. A null numeric value falls in bin 0 and counts
  * toward its frequency, as in the corpus fit; a null category is a
  * value of its own. The RNG is counter-based (see Rng), so every draw
  * is a pure function of (seed, instance, sample, feature), independent
  * of partition layout. Then one of two paths:
  *
  *  - Lattice (discretized mode, at most [[LatticeGate]] cells, i.e.
  *    ∏ bins × ∏ category counts). Every non-instance sample's scorer
  *    input is a lattice cell: a bin mean per numeric feature and a
  *    value per categorical one. The cells and the instance rows are
  *    scored once, as one local relation the optimizer evaluates on
  *    the driver without a job, and bound in a [[Lattice]]. Each
  *    instance row then regenerates its N samples' draws in one
  *    expression ([[FoldSamples]]), looks up each score by the cell's
  *    mixed-radix code, and folds the kernel-weighted normal equations
  *    in sample order ([[NormalEquations]]), bit-identical to the
  *    fan-out's sums. The request is a narrow projection over the
  *    instance rows: no ×N rows, no exchange, one job. This relies on
  *    the `scoreFn` contract: a deterministic row-wise function of the
  *    `f__val` columns.
  *  - Fan-out (above the gate, and continuous mode). One narrow stage
  *    perturbs, scores and weights instances × N rows, and one shuffle
  *    on instance_id aggregates the ridge buffers with map-side
  *    partials, so shuffled bytes are O(instances·d'²), not
  *    O(instances·N). A request runs as two jobs.
  *
  * Text and image requests take the lattice path's shape, their
  * stand-in black boxes scored in-row ([[MaskFold]]). Every path ends
  * alike: one call per row solves the ridge system and ranks the
  * features, and the output comes back as a single partition sorted by
  * (id, rank) — the total order, with no range exchange.
  *
  * Request templates. A tabular request's plans (the instance collect,
  * the lattice scoring and the result) differ from request to request
  * only in their data, so each is analyzed once per request shape and
  * cached as a [[RequestTemplate]]: at most
  * [[RequestTemplate.MaxTemplates]] of them over all sessions. The
  * shape is the session and its SQL conf, the `scoreFn` instance for
  * the plans that call it (both by reference, held weakly; None is the
  * demo scorer's), `idCol`, the
  * features, the config, the instances' schema and the plan. A later
  * request of the shape binds its instance plan, its lattice rows and
  * its statistics (each BoundValue by name, [[statValues]]) into the
  * template: it does not call `scoreFn`, run MLlib's transforms or
  * analyze a plan, and gets the rows a cold build gives, bit for bit.
  * A caller that makes a new `scoreFn` per request builds the plans
  * that call it on every request. A scorer whose plan reads more than
  * its input gets no template and is called on every request (see
  * [[explainTabular]]).
  */
object Lime {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** @param discretize quartile-discretized sampling with a binary
    *   interpretable representation (public LIME default); false =
    *   gaussian sampling around the instance with z-scored features
    *   (`discretize_continuous=False, sample_around_instance=True`)
    * @param selection "highest_weights", "forward_selection", "none"
    *   (keep every feature, public LIME feature_selection='none'), or
    *   "auto" (forward selection when d' <= 6, like the public impl)
    */
  case class LimeConfig(
      nSamples: Int = 1000,
      kFeatures: Int = 4,
      kernelWidth: Option[Double] = None,
      seed: Long = 42,
      lambda: Double = 1.0,
      discretize: Boolean = true,
      selection: String = "highest_weights",
      nBins: Int = 4)  // 4 = quartile (public default), 10 = decile

  /** Per-feature training statistics: mean/std (exact decimal sums),
    * quartile bin edges (rounded to 6dp as the cross-engine firewall),
    * per-bin means and frequencies for perturbation sampling.
    */
  case class FeatureStats(
      name: String,
      mean: Double,
      std: Double,
      edges: Seq[Double],          // q1, q2, q3 rounded to 6dp
      binMeans: Seq[Double],       // representative value per bin (4)
      binCumFreqs: Seq[Double])    // cumulative bin frequencies (4, last=1)

  /** Categorical feature statistics: distinct values (sorted, so the
    * sampled index maps to the same value on every run) with cumulative
    * training frequencies. Cardinality must be bounded (the values ride
    * in the plan) — enforce with `maxCard`. A null value is a category
    * of its own, sorted first (Spark's ascending order): it is drawn
    * like any other value and matches only a null instance value.
    */
  case class CatStats(name: String, values: Seq[String], cumFreqs: Seq[Double])

  def fitCatStats(df: DataFrame, features: Seq[String], maxCard: Int = 64): Seq[CatStats] = {
    features.map { f =>
      val rows = df.groupBy(f).agg(count(lit(1)).as("n")).orderBy(f).collect()
      require(rows.length <= maxCard,
        s"categorical feature $f has ${rows.length} distinct values (> $maxCard)")
      val total = rows.map(_.getLong(1)).sum.toDouble
      val cum = rows.map(_.getLong(1) / total).scanLeft(0.0)(_ + _).tail
      CatStats(f, rows.map(r => if (r.isNullAt(0)) null else r.get(0).toString).toVector,
        cum.toVector.updated(rows.length - 1, 1.0))
    }
  }

  /** HALF_UP 6-dp rounding — the one cross-engine rule (Spark round()
    * and DuckDB ROUND are both half-up; math.rint is half-even and
    * diverges on exact halves).
    */
  def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // 19,6: >18 digits forces int128 decimal storage in DuckDB (int64
  // products of scale-6 values overflow), and 19+19 stays at the 38 cap
  private val D6 = "decimal(19,6)"

  /** Deterministic mean/std, exact bin edges and per-bin stats. Sums
    * go through DECIMAL so partition order can't change results
    * (SURVEY.md §7.4).
    *
    * `nBins` = 4 gives the public quartile discretizer (default);
    * 10 gives the decile discretizer (`discretizer='decile'`).
    *
    * @param smallInput the instance set of an explain request (tens to
    *   thousands of rows): collected once, numeric features cast to
    *   double, and fitted on the driver ([[fitStatsLocal]]), with the
    *   same values as the distributed fit. False for corpus-scale
    *   tables, fitted by aggregate jobs over a cached projection.
    */
  def fitStats(df: DataFrame, features: Seq[String], nBins: Int = 4,
               smallInput: Boolean = false): Seq[FeatureStats] = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    if (smallInput)
      fitStatsLocal(df.select(features.map(col(_).cast("double")): _*).collect(), features, nBins)
    else {
      // The corpus fit runs FOUR whole-table aggregates (moments,
      // sketch, below-counts + bracket census, bin stats); cache the
      // pruned feature projection across them so passes 2-4 read the
      // in-memory columns instead of re-scanning and re-decoding the
      // source (features × 8 bytes per row — ~20 MB at bench scale).
      // Values are unchanged: same rows, same expressions.
      val cached = df.select(features.map(col): _*).cache()
      try fitStatsInner(cached, features, nBins)
      finally cached.unpersist(blocking = false)
    }
  }

  private def fitStatsInner(df: DataFrame, features: Seq[String], nBins: Int): Seq[FeatureStats] = {
    def r6(v: Double): Double = round6(v)
    val ps = (1 until nBins).map(_.toDouble / nBins)
    // Exact mean/std in primitive LONG micro-units instead of decimal
    // sums: m = unscaled(cast(x AS DECIMAL(18,6))) — the SAME
    // string-based HALF_UP quantization as the decimal path, extracted
    // once per row (one bounded decimal multiply), and m² split as
    // (q·10⁶+r)² = q²·10¹² + 2qr·10⁶ + r² so each part sums inside
    // int64. The partial sums reassemble the exact 10⁻¹²-unit integer
    // on the driver — bit-identical to cast(sum(decimal) as double),
    // with codegen'd long aggregation instead of BigDecimal buffers.
    // Fallback to the full decimal path when (a) any value overflowed
    // the DECIMAL(18,6) cast (m null where x isn't: |x| ≥ 10¹²) or
    // (b) the post-hoc (count, max|m|) bound says a sum could wrap.
    def micro(f: String): Column =
      (col(f).cast("decimal(18,6)") * lit(1000000L).cast("decimal(7,0)"))
        .cast("long")
    val momentCols = features.flatMap { f =>
      val m = micro(f)
      val r = pmod(m, lit(1000000L))
      // (m−r) is an exact multiple of 10⁶ and < 2⁵³, so the double
      // division is exact; cast back to long for the long-only sums
      val q = ((m - r) / lit(1000000L)).cast("long")
      Seq(
        sum(m).as(s"${f}__sm"),
        sum(q * q).as(s"${f}__sqq"),
        sum(q * r).as(s"${f}__sqr"),
        sum(r * r).as(s"${f}__srr"),
        max(abs(m)).as(s"${f}__maxm"),
        max(r).as(s"${f}__maxr"),
        count(col(f)).as(s"${f}__nx"),
        count(m).as(s"${f}__nm"))
    } ++ Seq(count(lit(1)).as("__n"))
    // The sketch's TypedImperativeAggregate would force a fused
    // aggregate into interpreted ObjectHashAggregate — measured 1.32 s
    // fused vs 0.62 s (codegen moments) + 0.63 s (sketch) SEPARATE at
    // bench scale — so the two run as independent overlapped jobs
    // (guide §2.6), with the shared projection cache populated once up
    // front.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    df.count() // build the cache once, not racily twice
    val momentsF = Future(df.agg(momentCols.head, momentCols.tail: _*).head())
    // bracket job (A): approx sketch + the non-null counts the
    // read-off needs (exactQuantilesFromSketch reads `${f}__nx`)
    val sketchCols = features.map(f => count(col(f)).as(s"${f}__nx")) ++
      quantileSketchCols(features, ps)
    val rSketch = df.agg(sketchCols.head, sketchCols.tail: _*).head()
    val r1 = Await.result(momentsF, Duration.Inf)
    val n = r1.getAs[Long]("__n")
    val longSafe = n > 0 && features.forall { f =>
      val maxm = BigInt(math.max(r1.getAs[Long](s"${f}__maxm"), 1L))
      val maxq = maxm / 1000000L + 1
      val maxr = BigInt(math.max(r1.getAs[Long](s"${f}__maxr"), 1L))
      // no decimal-cast overflow, and exact no-wrap bounds for Σm,
      // Σq², Σqr, Σr²: |Σx| <= n·max|x| per term, so no extra margin —
      // the observed max(r) keeps the r² bound from capping the fast
      // path at ~2.3M rows the way a blanket (10⁶)² term would
      r1.getAs[Long](s"${f}__nx") == r1.getAs[Long](s"${f}__nm") &&
        Seq(maxm, maxq * maxq, maxq * maxr, maxr * maxr)
          .forall(b => BigInt(n) * b < Long.MaxValue)
    }
    if (!longSafe) log.info(
      s"fitStats: long fast path unsafe for n=$n (overflow bound or nulls); using decimal fallback")
    val moments: Map[String, (Double, Double)] =
      if (longSafe) features.map { f =>
        val sumD = BigDecimal(BigInt(r1.getAs[Long](s"${f}__sm")), 6).toDouble
        val sumsqUnscaled =
          BigInt(r1.getAs[Long](s"${f}__sqq")) * BigInt(10).pow(12) +
          BigInt(r1.getAs[Long](s"${f}__sqr")) * 2000000L +
          BigInt(r1.getAs[Long](s"${f}__srr"))
        val sumsqD = BigDecimal(sumsqUnscaled, 12).toDouble
        f -> (sumD, sumsqD)
      }.toMap
      else {
        // decimal fallback: magnitudes large enough to wrap int64
        val p = features.flatMap { f =>
          val x = col(f).cast(D6)
          Seq(sum(x).cast("double").as(s"${f}__sd"),
              sum(x * x).cast("double").as(s"${f}__ssd"))
        }
        val r = df.agg(p.head, p.tail: _*).head()
        features.map(f => f -> (r.getAs[Double](s"${f}__sd"), r.getAs[Double](s"${f}__ssd"))).toMap
      }
    def g(name: String): Double = {
      val f = name.stripSuffix("__mean").stripSuffix("__std")
      val (sumD, sumsqD) = moments(f)
      if (name.endsWith("__mean")) sumD / n
      else {
        val v = math.sqrt((sumsqD - sumD * sumD / n) / (n - 1.0))
        math.max(if (v.isNaN) 0.0 else v, 1e-12)
      }
    }
    val edges = exactQuantilesFromSketch(df, features, ps, rSketch).map(_.map(r6))

    // Bin means go through the exact-integer firewall (exact per-bin
    // micro-unit sums → one double division), and bin frequencies were
    // always exact long counts → one division — so BOTH are
    // partition-order-independent AND engine-replicable. This is what
    // lets lime_perturb carry a DuckDB oracle: the sampling
    // thresholds (cumFreqs) and the emitted __val (binMeans) must be
    // bit-reproducible from SQL, not 1e-13-wobbly double sums.
    // When longSafe holds, the per-bin sums ride the SAME micro-unit
    // LONG lattice as the moments (each bin's sum is a subset of Σm,
    // so the no-wrap bound holds a fortiori) — codegen'd long
    // aggregation, measured 0.64 s vs 0.90 s for the decimal form at
    // bench scale; the unscaled integer is identical, so the closing
    // division is the same IEEE op on the same values. Null features
    // fall to bin 0 in the COUNT but stay out of the SUM (null m),
    // exactly like the decimal form (sum skips nulls).
    val binStats: Map[String, (IndexedSeq[Double], IndexedSeq[Double])] =
      if (longSafe) {
        val pass2 = features.zip(edges).flatMap { case (f, e) =>
          val bin = binOf(col(f), e)
          val m = micro(f)
          (0 until nBins).flatMap { b =>
            Seq(
              sum(when(bin === b, m)).as(s"${f}__bs$b"),
              sum(when(bin === b, 1L).otherwise(0L)).as(s"${f}__bc$b"))
          }
        }
        val r2 = df.agg(pass2.head, pass2.tail: _*).head()
        features.map { f =>
          val cnts = (0 until nBins).map(b => r2.getAs[Long](s"${f}__bc$b"))
          val means = (0 until nBins).map { b =>
            val i = r2.fieldIndex(s"${f}__bs$b")
            // empty bin: the decimal form read a NULL sum back as 0.0
            if (r2.isNullAt(i)) 0.0
            else BigDecimal(BigInt(r2.getLong(i)), 6).toDouble /
              math.max(cnts(b), 1L)
          }
          f -> (means, cnts.map(_.toDouble / n))
        }.toMap
      } else {
        val pass2 = features.zip(edges).flatMap { case (f, e) =>
          val bin = binOf(col(f), e)
          (0 until nBins).flatMap { b =>
            Seq(
              (sum(when(bin === b, col(f).cast(D6))).cast("double") /
                greatest(sum(when(bin === b, 1).otherwise(0)), lit(1))).as(s"${f}__bm$b"),
              (sum(when(bin === b, 1).otherwise(0)).cast("double") / count(lit(1))).as(s"${f}__bf$b"))
          }
        }
        val r2 = df.agg(pass2.head, pass2.tail: _*).head()
        features.map { f =>
          f -> ((0 until nBins).map(b => r2.getAs[Double](s"${f}__bm$b")),
            (0 until nBins).map(b => r2.getAs[Double](s"${f}__bf$b")))
        }.toMap
      }

    features.zip(edges).map { case (f, e) =>
      val (means, freqs) = binStats(f)
      val cum = freqs.scanLeft(0.0)(_ + _).tail.updated(nBins - 1, 1.0)
      FeatureStats(f, g(s"${f}__mean"), g(s"${f}__std"), e, means, cum)
    }
  }

  /** Sketch-bracket exact quantiles — three shuffle-light jobs, no
    * single-partition window (the value-count CDF below serializes
    * each feature's distinct values through ONE window partition,
    * which for a near-unique column means a single-threaded sort of
    * ~n rows):
    *
    *   (A) one `percentile_approx` pass brackets every target order
    *       statistic within the sketch's rank-error bound (±n/acc);
    *   (B) one aggregate counts rows strictly below each bracket, and
    *       one filtered aggregate collects the distinct (value, count)
    *       pairs inside the brackets — O(#targets · n/acc) rows, equal
    *       values collapsed;
    *
    * then the exact order statistics are read off on the driver. The
    * sketch only chooses WHICH rows get collected — the returned
    * quantiles are the exact order statistics either way, so results
    * are bit-identical to the CDF path (and partition-independent even
    * though the sketch itself is not). Falls back to the CDF path if a
    * bracket misses its target (outside the sketch's error contract;
    * kept as a correctness belt).
    */
  // Sketch accuracy only sizes the bracket margin (exactness comes
  // from the bracket census + below-counts; a missed bracket falls
  // back to the CDF path) — 2000 keeps brackets ±0.15% of rank, an
  // ~5× cheaper QuantileSummaries than 10000 in the fused pass 1.
  private val QAcc = 2000

  /** The sketch columns of job (A): per feature, the approx bracket
    * edges. Exposed so callers that already run a whole-table
    * aggregate (fitStats pass 1) can fuse job (A) into it and skip one
    * scan. Non-null counts are NOT included — the read-off uses the
    * caller's `${f}__nx` aggregates (fitStats pass 1 already has them;
    * the standalone entry below adds its own) rather than duplicating
    * a count column per feature in the fused pass.
    */
  private[graft] def quantileSketchCols(features: Seq[String],
                                        ps: Seq[Double]): Seq[Column] = {
    val margin = 3.0 / QAcc
    val lops = ps.map(p => math.max(0.0, p - margin))
    val hips = ps.map(p => math.min(1.0, p + margin))
    features.map { f =>
      percentile_approx(col(f).cast("double"),
        array((lops ++ hips).map(lit): _*), lit(QAcc)).as(s"${f}__qb")
    }
  }

  private[graft] def exactQuantiles(df: DataFrame, features: Seq[String],
                                    ps: Seq[Double]): Seq[Vector[Double]] = {
    val aggA = features.map(f => count(col(f)).as(s"${f}__nx")) ++
      quantileSketchCols(features, ps)
    val rA = df.agg(aggA.head, aggA.tail: _*).head()
    exactQuantilesFromSketch(df, features, ps, rA)
  }

  /** Jobs (B) + driver read-off, given job (A)'s result row (which
    * must carry `${f}__nx` non-null counts and `${f}__qb` brackets).
    */
  private[graft] def exactQuantilesFromSketch(
      df: DataFrame, features: Seq[String], ps: Seq[Double],
      rA: org.apache.spark.sql.Row): Seq[Vector[Double]] = {
    val nPer = features.map(f => f -> rA.getAs[Long](s"${f}__nx")).toMap
    features.foreach { f =>
      require(nPer(f) > 0, s"exactQuantiles: feature $f has no non-null values")
    }
    val brackets: Map[String, Seq[(Double, Double)]] = features.map { f =>
      val b = rA.getAs[scala.collection.Seq[Double]](s"${f}__qb")
      f -> ps.indices.map(i => (b(i), b(ps.length + i)))
    }.toMap
    val aggB = features.flatMap { f =>
      brackets(f).zipWithIndex.map { case ((lo, _), i) =>
        sum(when(col(f) < lo, 1L).otherwise(0L)).as(s"${f}__below$i")
      }
    }
    // The below-counts aggregate (B1) and the bracket census (B2) are
    // independent given the brackets — run them as overlapped jobs
    // (guide §2.6) so the tail of one back-fills the other's tasks.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val rBF = Future(df.agg(aggB.head, aggB.tail: _*).head())
    // ONE scan for every feature's bracket census, not a scan per
    // feature: melt (feature, value) pairs with an explode over
    // struct literals (no SQL-string interpolation, so quoted/exotic
    // column names keep working), then keep only values inside their
    // OWN feature's brackets. The fan-out is ×|features| rows but each
    // bracket spans ~±(3/QAcc) of rank per edge (±0.15% at the
    // current accuracy), so the aggregate input stays a small slice
    // of the scan.
    val inBracket = {
      val melted = df.select(explode(array(features.map(f =>
        struct(lit(f).as("feature"), col(f).cast("double").as("v"))): _*)).as("fv"))
        .select(col("fv.feature").as("feature"), col("fv.v").as("v"))
      val cond = features.map { f =>
        col("feature") === f &&
          brackets(f).map { case (lo, hi) => col("v") >= lo && col("v") <= hi }
            .reduce(_ || _)
      }.reduce(_ || _)
      melted.filter(col("v").isNotNull && cond)
        .groupBy("feature", "v").agg(count(lit(1)).as("c"))
        .select(col("feature"), col("v"), col("c"))
    }
    val byFeat = inBracket.collect().groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1) }
    val rB = Await.result(rBF, Duration.Inf)
    def search(f: String, k: Long): Option[Double] = {
      val vs = byFeat.getOrElse(f, Array.empty[(Double, Long)])
      var res: Option[Double] = None
      brackets(f).indices.foreach { i =>
        if (res.isEmpty) {
          val (lo, hi) = brackets(f)(i)
          var cum = rB.getAs[Long](s"${f}__below$i")
          if (k >= cum) vs.foreach { case (v, c) =>
            if (res.isEmpty && v >= lo && v <= hi) {
              if (k < cum + c) res = Some(v)
              cum += c
            }
          }
        }
      }
      res
    }
    features.map { f =>
      val n = nPer(f)
      val qs = ps.map { p =>
        val pos = (n - 1) * p
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        (search(f, lo), search(f, hi)) match {
          case (Some(a), Some(b)) =>
            Some(if (lo == hi) a else (hi - pos) * a + (pos - lo) * b)
          case _ => None
        }
      }
      if (qs.forall(_.isDefined)) qs.flatten.toVector
      else exactQuantilesCdf(df, Seq(f), ps).head
    }
  }

  /** Full value-count CDF exact quantiles (fallback path; see
    * exactQuantiles for why it is no longer the default). Order
    * statistics and the interpolation `(hi−pos)·v_lo + (pos−lo)·v_hi`
    * replicate Percentile.getPercentile bit-for-bit.
    */
  private[graft] def exactQuantilesCdf(df: DataFrame, features: Seq[String],
                                       ps: Seq[Double]): Seq[Vector[Double]] = {
    import org.apache.spark.sql.expressions.Window
    // SINGLE job: a column-pruned scan + hash-agg branch per feature
    // (branches run concurrently), unioned into one per-feature window
    // that carries both the running count and the partition total, so
    // the 0-indexed rank targets floor/ceil((n−1)·p) are evaluated as
    // EXPRESSIONS — no separate count job, no rank broadcast, no
    // cache. NULLs are excluded like the `percentile` aggregate this
    // replaces (and like DuckDB quantile_cont); rank targets use the
    // per-feature NON-NULL count.
    val counts = features.map { f =>
      df.filter(col(f).isNotNull)
        .groupBy(col(f).cast("double").as("v")).agg(count(lit(1)).as("c"))
        .select(lit(f).as("feature"), col("v"), col("c"))
    }.reduce(_ unionByName _)
    val wCum = Window.partitionBy("feature").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("feature")
    val withCum = counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("prev", col("cum") - col("c"))
      .withColumn("n", sum(col("c")).over(wAll))
    // a row survives iff one of the wanted order statistics lands in
    // its [prev, cum) range
    val target = ps.flatMap { p =>
      val pos = (col("n") - 1) * lit(p)
      Seq(floor(pos), ceil(pos))
    }.map(k => k >= col("prev") && k < col("cum")).reduce(_ || _)
    val hitRows = withCum.filter(target)
      .select("feature", "v", "prev", "cum", "n").collect()
    val nPer: Map[String, Long] =
      hitRows.map(r => r.getString(0) -> r.getLong(4)).toMap
    features.foreach { f =>
      require(nPer.contains(f), s"exactQuantiles: feature $f has no non-null values")
    }
    def valueAt(f: String, k: Long): Double =
      hitRows.collectFirst {
        case r if r.getString(0) == f && r.getLong(2) <= k && k < r.getLong(3) =>
          r.getDouble(1)
      }.getOrElse(sys.error(s"exactQuantiles: rank $k of $f not found"))
    features.map { f =>
      val n = nPer(f)
      ps.map { p =>
        val pos = (n - 1) * p
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        if (lo == hi) valueAt(f, lo)
        else (hi - pos) * valueAt(f, lo) + (pos - lo) * valueAt(f, hi)
      }.toVector
    }
  }

  /** [[fitStats]] on the driver, over an explain request's collected
    * instance rows (feature j a double, or null, at position j): the
    * arithmetic of the distributed fit — exact HALF_UP scale-6 moment
    * sums, the Percentile order-statistic interpolation, exact per-bin
    * decimal sums — and its null rule: a null value is left out of the
    * sums and the edges, counts toward n, and falls in bin 0, whose
    * frequency and mean divisor count it.
    */
  private[lime] def fitStatsLocal(rows: Array[org.apache.spark.sql.Row],
                                  features: Seq[String], nBins: Int): Seq[FeatureStats] = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val n = rows.length.toLong
    val ps = (1 until nBins).map(_.toDouble / nBins)
    def m6(v: Double): java.math.BigInteger =
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue()
    features.zipWithIndex.map { case (f, fi) =>
      val vs: Array[Double] =
        rows.flatMap(r => if (r.isNullAt(fi)) None else Some(r.getDouble(fi)))
      require(vs.nonEmpty && n > 0, s"fitStats: feature $f has no non-null values")
      var sm = java.math.BigInteger.ZERO
      var smm = java.math.BigInteger.ZERO
      vs.foreach { v =>
        val m = m6(v)
        sm = sm.add(m); smm = smm.add(m.multiply(m))
      }
      val sumD = new java.math.BigDecimal(sm, 6).doubleValue()
      val sumsqD = new java.math.BigDecimal(smm, 12).doubleValue()
      val mean = sumD / n
      val stdV = math.sqrt((sumsqD - sumD * sumD / n) / (n - 1.0))
      val std = math.max(if (stdV.isNaN) 0.0 else stdV, 1e-12)
      val sorted = vs.sorted
      val edges = ps.map { p =>
        val pos = (vs.length - 1) * p
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val a = sorted(lo.toInt); val b = sorted(hi.toInt)
        round6(if (lo == hi) a else (hi - pos) * a + (pos - lo) * b)
      }.toVector
      val binSum = Array.fill(nBins)(java.math.BigInteger.ZERO)
      val binCnt = new Array[Long](nBins)
      binCnt(0) = n - vs.length
      val edgeData = UnsafeArrayData.fromPrimitiveArray(edges.toArray)
      vs.foreach { v =>
        val b = binIndex(v, edgeData)
        binSum(b) = binSum(b).add(m6(v))
        binCnt(b) += 1
      }
      // empty bin: the aggregate read a NULL sum back as 0.0 — 0/1 here
      val binMeans = (0 until nBins).map(b =>
        new java.math.BigDecimal(binSum(b), 6).doubleValue() / math.max(binCnt(b), 1L))
      val freqs = (0 until nBins).map(b => binCnt(b).toDouble / n)
      val cum = freqs.scanLeft(0.0)(_ + _).tail.updated(nBins - 1, 1.0)
      FeatureStats(f, mean, std, edges, binMeans, cum)
    }
  }

  /** Driver-side fitCatStats over the same collected instance table:
    * counts per distinct value in UTF-8 byte order (Spark's string
    * ordering), cumulative frequencies with the last pinned to 1.0.
    */
  private[lime] def fitCatStatsLocal(rows: Array[org.apache.spark.sql.Row],
      offset: Int, catFeatures: Seq[String], maxCard: Int = 64): Seq[CatStats] = {
    def cmpU8(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    catFeatures.zipWithIndex.map { case (f, ci) =>
      val counts = scala.collection.mutable.HashMap.empty[Option[String], Long]
      rows.foreach { r =>
        val v = if (r.isNullAt(offset + ci)) None else Some(r.get(offset + ci).toString)
        counts.update(v, counts.getOrElse(v, 0L) + 1L)
      }
      // null first, as Spark sorts it
      val keys = counts.keys.toArray.sortWith {
        case (None, b) => b.nonEmpty
        case (Some(_), None) => false
        case (Some(a), Some(b)) => cmpU8(a, b) < 0
      }
      require(keys.length <= maxCard,
        s"categorical feature $f has ${keys.length} distinct values (> $maxCard)")
      val total = counts.valuesIterator.sum.toDouble
      val cum = keys.map(counts(_) / total).scanLeft(0.0)(_ + _).tail
      CatStats(f, keys.map(_.orNull).toVector, cum.toVector.updated(keys.length - 1, 1.0))
    }
  }

  /** Quartile bin id: count of edges strictly below x — matches
    * numpy searchsorted(side='left') used by the public discretizer.
    * A null x falls in bin 0.
    */
  def binOf(x: Column, edges: Seq[Double]): Column = binOf(x, bound(edges))

  private def binOf(x: Column, edges: Column): Column =
    GraftColumnShim.column(BinIndex(GraftColumnShim.expression(x.cast("double")),
      GraftColumnShim.expression(edges)))

  /** [[binOf]] for one value: one past the highest edge that x exceeds
    * (0 when none does), under the comparison Catalyst's `>` makes on
    * doubles.
    */
  def binIndex(x: Double, edges: ArrayData): Int = {
    var i = edges.numElements()
    while (i > 0 && SQLOrderingUtil.compareDoubles(x, edges.getDouble(i - 1)) <= 0) i -= 1
    i
  }

  /** A per-request statistic as a run-time value rather than a plan
    * literal (see [[BoundValue]] and `perturb`).
    */
  private def bound(v: Double): Column =
    GraftColumnShim.column(BoundValue(v, DoubleType))

  private def bound(vs: Seq[Double]): Column = GraftColumnShim.column(doubles(vs))

  private def doubles(vs: Seq[Double], name: String = ""): BoundValue =
    BoundValue(UnsafeArrayData.fromPrimitiveArray(vs.toArray),
      ArrayType(DoubleType, containsNull = false), name)

  /** One request's statistics as named run-time values, the names its
    * plans' [[BoundValue]]s carry: per numeric feature f its bin edges
    * `edges:f`, bin means `binMeans:f`, cumulative bin frequencies
    * `cumFreqs:f`, `mean:f`, `std:f` and z-score divisor `scale:f` (std
    * floored at 1e-12); per categorical feature f its values
    * `values:cat:f` (null-tolerant, whether or not a null is among
    * them, so the plan's types do not depend on the data) and
    * cumulative frequencies `cumFreqs:cat:f`.
    */
  private def statValues(stats: Seq[FeatureStats], catStats: Seq[CatStats]): Map[String, BoundValue] =
    (stats.flatMap { st =>
      Seq(doubles(st.edges, s"edges:${st.name}"), doubles(st.binMeans, s"binMeans:${st.name}"),
        doubles(st.binCumFreqs, s"cumFreqs:${st.name}"),
        BoundValue(st.mean, DoubleType, s"mean:${st.name}"),
        BoundValue(st.std, DoubleType, s"std:${st.name}"),
        BoundValue(math.max(st.std, 1e-12), DoubleType, s"scale:${st.name}"))
    } ++ catStats.flatMap { cs =>
      Seq(BoundValue(new GenericArrayData(cs.values.map(UTF8String.fromString).toArray[Any]),
          ArrayType(StringType, containsNull = true), s"values:cat:${cs.name}"),
        doubles(cs.cumFreqs, s"cumFreqs:cat:${cs.name}"))
    }).map(b => b.name -> b).toMap

  /** Bin or category drawn by a uniform `u`: the lowest index i with
    * u < cumFreqs(i), or the last index when there is none, under the
    * comparison Catalyst's `<` makes on doubles.
    */
  def drawIndex(u: Double, cumFreqs: ArrayData): Int = {
    val last = cumFreqs.numElements() - 1
    var i = 0
    while (i < last && SQLOrderingUtil.compareDoubles(u, cumFreqs.getDouble(i)) >= 0) i += 1
    i
  }

  private def draw(u: Column, cumFreqs: Column): Column =
    GraftColumnShim.column(DrawIndex(GraftColumnShim.expression(u),
      GraftColumnShim.expression(cumFreqs)))

  /** Proximity kernel π(d) = sqrt(exp(-d²/w²)) (public impl form). */
  def kernel(dist: Column, width: Double): Column =
    sqrt(exp(-dist * dist / lit(width * width)))

  /** Closed-form logistic "black box" over z-scored features with
    * fixed public demo coefficients — the deterministic scorer used by
    * the oracle-checked lime_score query and the explain specs.
    */
  val demoCoefs: Seq[Double] = Seq(0.8, -0.5, 1.2, -0.7)
  val demoIntercept: Double = 0.1

  def logisticScore(stats: Seq[FeatureStats], values: Seq[Column]): Column =
    logistic(stats.map(st => (bound(st.mean), bound(math.max(st.std, 1e-12)))), values)

  /** [[logisticScore]] with each feature's (mean, z-score divisor) given
    * as columns. */
  private def logistic(centres: Seq[(Column, Column)], values: Seq[Column]): Column = {
    val lin = centres.zip(values).zip(demoCoefs).foldLeft(lit(demoIntercept): Column) {
      case (acc, (((mean, scale), v), b)) => acc + lit(b) * (v - mean) / scale
    }
    lit(1.0) / (lit(1.0) + exp(-lin))
  }

  /** Perturbation fan-out: N samples per instance as a single narrow
    * explode — sample 0 is the instance itself. For each (sample,
    * feature): draw a bin from the training bin distribution with the
    * counter-based RNG, set z=1 iff it equals the instance's bin, and
    * take the bin-mean as the undiscretized value for scoring.
    *
    * Returns the input columns plus, per feature f:
    * `f__bin`, `f__z`, `f__val`, and `sample_id`.
    *
    * Every per-request statistic (bin edges and means, cumulative
    * frequencies, mean, std, categorical values) enters the plan as a
    * run-time [[BoundValue]], never as a literal: literals are written
    * into the generated Java source, so each request's stats would
    * produce new source text, miss Spark's compiled-class cache and
    * pay a Janino compile plus a cold JIT on every call. Bound, the
    * generated code is the same for every request over the same
    * features and config, and stays compiled and warm across requests.
    *
    * The new columns are built in two projections, one per dependent
    * layer: the drawn `__val`/`__bin` columns, then the columns derived
    * from them. Every Dataset call re-analyzes the whole plan built so
    * far, so a call per column would make the call count, not the work,
    * dominate building a request's plan.
    */
  def perturb(instances: DataFrame, idCol: String, stats: Seq[FeatureStats], cfg: LimeConfig,
              catStats: Seq[CatStats] = Nil): DataFrame = {
    checkTabular(cfg, stats.size + catStats.size)
    perturb(instances, idCol, stats.map(_.name), catStats.map(_.name), cfg, statValues(stats, catStats))
  }

  /** [[perturb]] over the features `numeric` and `categorical`, each
    * statistic the value of its name in `values` ([[statValues]]). */
  private def perturb(instances: DataFrame, idCol: String, numeric: Seq[String],
                      categorical: Seq[String], cfg: LimeConfig,
                      values: Map[String, BoundValue]): DataFrame = {
    def v(name: String): Column = GraftColumnShim.column(values(name))
    val base = instances.withColumn("sample_id", explode(sequence(lit(0), lit(cfg.nSamples - 1))))
    val sample0 = col("sample_id") === 0
    // Per feature: the drawn column, then the columns derived from it,
    // each as (name, value).
    // Categorical features: resample from the training frequency table;
    // z = 1 iff the sampled value equals the instance's (public LIME
    // categorical semantics). The sampled value itself is the score
    // input.
    val cats = categorical.map { f =>
      val u = Rng.u01(lit(cfg.seed), col(idCol), col("sample_id"), lit("cat:" + f))
      val sampled = element_at(v(s"values:cat:$f"), draw(u, v(s"cumFreqs:cat:$f")) + 1)
      (s"${f}__val" -> when(sample0, col(f).cast("string")).otherwise(sampled),
        Seq(s"${f}__z" -> (col(s"${f}__val") <=> col(f).cast("string")).cast("double")))
    }
    val nums =
      if (cfg.discretize)
        numeric.map { f =>
          val u = Rng.u01(lit(cfg.seed), col(idCol), col("sample_id"), lit(f))
          val instBin = binOf(col(f), v(s"edges:$f"))
          val bin = col(s"${f}__bin")
          (s"${f}__bin" -> when(sample0, instBin).otherwise(draw(u, v(s"cumFreqs:$f"))),
            Seq(s"${f}__z" -> (bin === instBin).cast("double"),
              s"${f}__val" ->
                when(sample0, col(f)).otherwise(element_at(v(s"binMeans:$f"), bin + 1))))
        }
      else
        // continuous mode: gaussian around the instance, z-scored
        // interpretable representation; sample 0 stays the instance
        numeric.zipWithIndex.map { case (f, j) =>
          val g = Rng.gaussian(lit(cfg.seed), col(idCol) * lit(1000003L) + col("sample_id"), lit(j))
          val x = col(s"${f}__val")
          (s"${f}__val" -> when(sample0, col(f)).otherwise(col(f) + g * v(s"std:$f")),
            Seq(s"${f}__bin" -> binOf(x, v(s"edges:$f")),
              s"${f}__z" -> (x - v(s"mean:$f")) / v(s"scale:$f")))
        }
    val layers = cats ++ nums
    val drawn = base.select(col("*") +: layers.map { case ((n, c), _) => c.as(n) }: _*)
    drawn.select(base.columns.map(quoted) ++ layers.flatMap { case ((n, _), derived) =>
      quoted(n) +: derived.map { case (dn, c) => c.as(dn) }
    }: _*)
  }

  /** A column by its exact name, with no dot or backtick parsing. */
  private[lime] def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** RidgeAggregator's buffer as built-in sums over a frame of
    * (`z`: array of d' doubles, `y`, `w`). Returns the sums to aggregate
    * and, over their results, the buffer array in the aggregator's
    * layout [G: m·m | b: m | Σw, Σw·y, Σw·y·y] (m = d' + 1, x₀ = 1).
    * Each term keeps `reduce`'s multiply order, and G's upper triangle
    * fills both halves as in `reduce`, so one partition's sums equal
    * its reduced buffer bit-for-bit.
    */
  private[graft] def ridgeBuffer(d: Int): (Seq[Column], Column) = {
    val m = d + 1
    def xCol(i: Int): Column = if (i == 0) lit(1.0) else col("z").getItem(i - 1)
    val g = for { r <- 0 until m; c <- r until m } yield (r, c)
    val terms: Seq[Column] =
      g.map { case (r, c) => (col("w") * xCol(r)) * xCol(c) } ++
      (0 until m).map(r => (col("w") * xCol(r)) * col("y")) ++
      Seq(col("w"), col("w") * col("y"), col("w") * col("y") * col("y"))
    val sums = terms.zipWithIndex.map { case (t, i) => sum(t).as(s"__buf$i") }
    def buf(i: Int): Column = col(s"__buf$i")
    val layout =
      (for { r <- 0 until m; c <- 0 until m } yield buf(g.indexOf((r min c, r max c)))) ++
      (g.size until terms.size).map(buf)
    (sums, array(layout: _*))
  }

  /** The lattice gate: a discretized request whose lattice has at most
    * this many cells (∏ bins × ∏ category counts; 256 for four
    * quartile-binned features) scores it once and folds each instance
    * in-row; a larger one keeps the fan-out.
    */
  private[lime] val LatticeGate = 4096

  /** An instance set a LIME request cannot explain: duplicate ids, or
    * (in [[explainTabular]]'s continuous mode) a null numeric feature. */
  class InvalidInstancesException(msg: String) extends IllegalArgumentException(msg)

  /** End-to-end tabular explanation:
    * stats → perturb → score → kernel → per-instance ridge → top-K.
    *
    * `scoreFn` adds a prediction column `pred` to a frame that holds the
    * `f__val` columns — a closed-form expression for the demo scorer,
    * or an MLlib Transformer wrapper (see LimeMllib). It must be a
    * deterministic row-wise function of the `f__val` columns: in
    * discretized mode the lattice path scores each distinct input once,
    * on a frame that holds only the feature columns, their `f__val`
    * twins and a row key.
    *
    * `scoreFn` is called once per request shape (see "Request
    * templates" above), by the shape's first request, and the plan it
    * returns is reused for every later request of that shape. So it
    * must be lazy: what it computes from its input must stay in the
    * plan (an action on its input sees only the first request's rows),
    * and what it reads besides its input (a model, a registered
    * function) is read once; to score with a changed model, pass a new
    * function. A scorer whose plan reads anything besides its input (a
    * second relation, a round trip through `df.rdd`, a checkpoint, its
    * input twice) is called on every request instead.
    *
    * The instance set is collected once at build, numeric features cast
    * to double and categorical ones to string: the statistics, the
    * checks and the lattice path all read that collect, whatever the
    * columns' types. Instance ids must be unique (one null id is an id)
    * and, in continuous mode, no numeric feature may be null; a request
    * that breaks either fails at build with [[InvalidInstancesException]].
    * In discretized mode a null numeric value falls in bin 0.
    *
    * Output: (instance_id, rank, feature, weight, intercept, r2,
    * local_pred), kFeatures rows per instance.
    */
  def explainTabular(
      instances: DataFrame,
      idCol: String,
      features: Seq[String],
      cfg: LimeConfig = LimeConfig(),
      scoreFnOpt: Option[DataFrame => DataFrame] = None,
      catFeatures: Seq[String] = Nil): DataFrame =
    explainTabular(instances, idCol, features, cfg, scoreFnOpt, catFeatures, lattice = true)

  /** [[explainTabular]]; `lattice = false` keeps a discretized request
    * on the fan-out path, for specs that compare the two paths.
    */
  private[lime] def explainTabular(
      instances: DataFrame,
      idCol: String,
      features: Seq[String],
      cfg: LimeConfig,
      scoreFnOpt: Option[DataFrame => DataFrame],
      catFeatures: Seq[String],
      lattice: Boolean): DataFrame = {
    val allFeatures = features ++ catFeatures
    val d = allFeatures.size
    checkTabular(cfg, d)
    // the plans that call scoreFn key on it, the others do not
    val spark = instances.sparkSession
    val shape = RequestTemplate.Shape(new RequestTemplate.Ref(spark), spark.conf.getAll, None,
      idCol, features, catFeatures, cfg, instances.schema)
    val scored = shape.copy(scorer = scoreFnOpt.map(new RequestTemplate.Ref(_)))
    def request(input: DataFrame, key: RequestTemplate.Shape, part: String,
                values: Map[String, BoundValue])(build: DataFrame => DataFrame) =
      RequestTemplate.request(input, key.copy(part = part), values)(build)
    // The instance set is bounded by contract (tens to thousands of
    // rows), so one collect of it serves the checks, the statistics and
    // the lattice's RNG keys xxhash64(seed, id).
    val featureCols = features.map(col(_).cast("double")) ++ catFeatures.map(col(_).cast("string"))
    val idHash = xxhash64(lit(cfg.seed), col(idCol))
    val rows = request(instances, shape, "collect", Map.empty) { inst =>
      inst.select(featureCols :+ col(idCol) :+ idHash: _*)
    }.collect()
    checkInstances(rows, featureCols.size, idCol, features, cfg.discretize)
    val stats = fitStatsLocal(rows, features, cfg.nBins)
    val catStats = fitCatStatsLocal(rows, features.size, catFeatures)
    val values = statValues(stats, catStats)
    def v(name: String): Column = GraftColumnShim.column(values(name))
    val width = cfg.kernelWidth.getOrElse(0.75 * math.sqrt(d))
    val scoreFn = scoreFnOpt.getOrElse { df: DataFrame =>
      df.withColumn("pred", logistic(features.map(f => (v(s"mean:$f"), v(s"scale:$f"))),
        features.map(f => col(s"${f}__val"))))
    }

    // built only when a template is: a bound request reuses its template's
    lazy val solve = {
      val fwd = cfg.selection == "forward_selection" ||
        (cfg.selection == "auto" && d <= 6)
      val agg = new RidgeAggregator(d, cfg.lambda,
        if (fwd) cfg.kFeatures else Int.MaxValue, fwd)
      val keep = if (cfg.selection == "none") d else cfg.kFeatures
      // In continuous mode the instance's interpretable vector is its
      // z-scored values (categorical entries 1.0), not all-ones, so the
      // aggregator's localPred (= beta-sum) becomes intercept + beta . z.
      val names = allFeatures.map(UTF8String.fromString)
      udf { (buf: Seq[Double], zInst: Seq[Double]) =>
        val fit = agg.finish(buf.toArray)
        val localPred =
          if (cfg.discretize) fit.localPred
          else fit.intercept + fit.coefs.zip(zInst ++ catFeatures.map(_ => 1.0))
            .foldLeft(0.0) { case (acc, (c, z)) => acc + c * z }
        rank(fit, localPred, allFeatures, keep, (a, b) => names(a).compareTo(names(b)) < 0)
      }.withName("lime_ridge_solve")
    }
    val noZ = typedLit(Seq.empty[Double])

    val fold =
      if (lattice && cfg.discretize)
        latticeFold(rows, stats, catStats, cfg, width, (schema, cells) =>
          request(spark.createDataFrame(java.util.Arrays.asList(cells: _*), schema),
            scored, "scores", values)(scoreFn(_).select(col("__cell"), col("pred").cast("double"))))
      else None
    fold match {
      case Some(f) =>
        request(instances, shape, "lattice", values + (f.name -> f)) { inst =>
          explanations(inst.select(col(idCol).as("instance_id"),
            solve(foldSamples(f, idHash, struct(featureCols: _*)), noZ).as("expl")), "instance_id")
        }
      case None => request(instances, scored, "fan-out", values) { inst =>
        val scored = scoreFn(perturb(inst, idCol, features, catFeatures, cfg, values))
        // distance in the interpretable space: binary rep → d² = Σ(1 - z)
        // (instance row is all-ones); continuous rep → scaled euclidean
        // to the instance
        val dist2 =
          if (cfg.discretize) allFeatures.map(f => lit(1.0) - col(s"${f}__z")).reduce(_ + _)
          else (features.map(f => pow((col(s"${f}__val") - col(f)) / v(s"scale:$f"), 2)) ++
            catFeatures.map(f => lit(1.0) - col(s"${f}__z"))).reduce(_ + _)
        val weighted = scored.select(col(idCol).as("instance_id"), col("sample_id"),
          array(allFeatures.map(f => col(s"${f}__z")): _*).as("z"),
          col("pred").cast("double").as("y"),
          sqrt(exp(-dist2 / lit(width * width))).cast("double").as("w"))
        // The normal-equations fold runs as built-in sums: one codegen'd
        // HashAggregate with map-side partials, whose buffer cells
        // reproduce RidgeAggregator.reduce bit-for-bit (see ridgeBuffer).
        val (bufSums, buffer) = ridgeBuffer(d)
        // Continuous mode: sample 0 is the instance itself and perturb
        // z-scores it with the instance's own expression, so each
        // numeric z_instance entry rides the ridge aggregate as sample
        // 0's z (a plain double each, which keeps the aggregate
        // hash-based) instead of a join back to `instances`.
        val nNum = if (cfg.discretize) 0 else features.size
        val zInst = (0 until nNum).map(j =>
          min_by(col("z").getItem(j), col("sample_id")).as(s"__z$j"))
        explanations(weighted.groupBy(col("instance_id"))
          .agg(bufSums.head, bufSums.tail ++ zInst: _*)
          .select(col("instance_id"), solve(buffer,
            if (nNum == 0) noZ else array((0 until nNum).map(j => col(s"__z$j")): _*)).as("expl")),
          "instance_id")
      }
    }
  }

  /** The feature selections `explainTabular` implements. */
  private val tabularSelections = Seq("highest_weights", "forward_selection", "none", "auto")

  private def reject(field: String, rule: String, got: Any) =
    throw new IllegalArgumentException(s"LimeConfig.$field must be $rule, got $got")

  /** Rejects a config LIME cannot honour, naming the field: a sample
    * count below 1, a kernel width that is not finite and positive, a
    * negative ridge penalty, a feature selection the path does not
    * implement (`selections`), or fewer than one feature to keep.
    */
  private def checkConfig(cfg: LimeConfig, selections: Seq[String]): Unit = {
    if (cfg.nSamples < 1) reject("nSamples", ">= 1", cfg.nSamples)
    cfg.kernelWidth.foreach { w =>
      if (!(w > 0 && !w.isInfinite)) reject("kernelWidth", "finite and > 0", w)
    }
    if (!(cfg.lambda >= 0)) reject("lambda", ">= 0", cfg.lambda)
    if (!selections.contains(cfg.selection))
      reject("selection", selections.mkString("one of ", ", ", ""), cfg.selection)
    if (cfg.selection != "none" && cfg.kFeatures < 1) reject("kFeatures", ">= 1", cfg.kFeatures)
  }

  /** [[checkConfig]] for a tabular request over `d` features, which
    * also bins them: fewer than 2 bins, or no feature at all (d′ = 0
    * makes the default width 0), is rejected too. */
  private def checkTabular(cfg: LimeConfig, d: Int): Unit = {
    checkConfig(cfg, tabularSelections)
    if (cfg.nBins < 2) reject("nBins", ">= 2", cfg.nBins)
    if (d < 1) throw new IllegalArgumentException(
      "LIME: features and catFeatures are both empty; a request needs at least one feature")
  }

  /** Rejects duplicate ids and, in continuous mode, null numeric
    * features in the collected instance rows (the features first, the
    * id at `idAt`); with no `features`, only the ids are checked.
    */
  private def checkInstances(rows: Array[Row], idAt: Int, idCol: String, features: Seq[String],
                             discretize: Boolean): Unit = {
    val seen = scala.collection.mutable.HashSet.empty[Any]
    rows.foreach { r =>
      val id = r.get(idAt) match { case b: Array[Byte] => b.toSeq; case v => v }
      if (!seen.add(id)) throw new InvalidInstancesException(
        s"LIME: instance id $id appears more than once in `$idCol`; " +
          "each instance needs its own id")
    }
    if (!discretize) features.indices.find(j => rows.exists(_.isNullAt(j))).foreach { j =>
      throw nullNumeric(features(j))
    }
  }

  private def nullNumeric(f: String) = new InvalidInstancesException(
    s"explainTabular: numeric feature `$f` is null in an instance; continuous sampling " +
      "needs every numeric value (discretized mode puts a null in bin 0)")

  /** The top `keep` features of one fit by |weight|, largest first under
    * Spark's double ordering, ties by `tieBefore` on feature indices
    * (by index unless given): the order the output's `rank` numbers
    * from 1.
    */
  private def rank[N](fit: RidgeFit, localPred: Double, names: Int => N, keep: Int,
                      tieBefore: (Int, Int) => Boolean = _ < _): Seq[ExplainedFeature[N]] =
    fit.coefs.indices.sortWith { (a, b) =>
      val c = SQLOrderingUtil.compareDoubles(math.abs(fit.coefs(b)), math.abs(fit.coefs(a)))
      if (c != 0) c < 0 else tieBefore(a, b)
    }.take(keep).zipWithIndex.map { case (j, i) =>
      ExplainedFeature(i + 1, names(j), fit.coefs(j), fit.intercept, fit.r2, localPred)
    }

  /** The tail of every explain path: one row per feature of each row's
    * ranked `expl`, sorted by (id, rank) in one partition. inline_outer,
    * not inline: for an inner generator the optimizer infers a non-empty
    * filter on `expl` and pushes it below the projection that solves,
    * which then solves twice. The outer form emits a row of nulls for an
    * empty `expl`, so every solve keeps at least one feature.
    */
  private def explanations(fits: DataFrame, id: String): DataFrame =
    fits.select(col(id), inline_outer(col("expl")))
      .coalesce(1)
      .sortWithinPartitions(id, "rank")

  /** `fold`, a bound [[SampleFold]], as the buffer column of rows keyed
    * by `idHash`. */
  private def foldSamples(fold: BoundValue, idHash: Column, row: Column): Column =
    GraftColumnShim.column(FoldSamples(fold, GraftColumnShim.expression(idHash),
      GraftColumnShim.expression(row)))

  /** A text or image request over `rows`, one per document or image
    * with its `doc_id`: each row's [[MaskFold]] buffer over the struct
    * `mask`, solved and ranked with ties by index (its `names` are
    * sorted), each feature named by `names` in the column `nameCol`.
    * Two rows with one `doc_id` fail at build with
    * [[InvalidInstancesException]], checked on a collect of the ids.
    */
  private[lime] def explainMasks[N: TypeTag](rows: DataFrame, mask: Column, names: Column,
                                             nameCol: String, cfg: LimeConfig): DataFrame = {
    // text and image LIME fit every feature and keep the top kFeatures
    checkConfig(cfg, Seq("highest_weights"))
    checkInstances(rows.select(col("doc_id").cast("long")).collect(), 0, "doc_id", Nil,
      cfg.discretize)
    val buffer = foldSamples(BoundValue(new MaskFold(cfg.nSamples, cfg.kernelWidth.getOrElse(25.0)),
      ObjectType(classOf[MaskFold])), xxhash64(lit(cfg.seed), col("doc_id")), mask)
    val solve = udf { (buf: Seq[Double], names: Seq[N]) =>
      val fit = new RidgeAggregator(names.size, cfg.lambda).finish(buf.toArray)
      rank(fit, fit.localPred, names, cfg.kFeatures)
    }.withName("lime_ridge_solve")
    explanations(rows.select(col("doc_id").cast("long").as("doc_id"), solve(buffer, names).as("expl")),
      "doc_id").withColumnRenamed("feature", nameCol)
  }

  /** The lattice path's fold: scores every lattice cell and every
    * instance once through `score` (the scorer over the rows of a
    * local relation of the schema it is given), and binds them with
    * the request's statistics in a [[Lattice]], the BoundValue named
    * `lattice`. None above [[LatticeGate]], or when a score is null or
    * two ids share an RNG key: the request then keeps the fan-out path,
    * whose sums treat those cases as they always did.
    *
    * `rows` are the stats collect's: the features, then the id and its
    * key `idHash`.
    */
  private def latticeFold(rows: Array[Row], stats: Seq[FeatureStats], catStats: Seq[CatStats],
                          cfg: LimeConfig, width: Double,
                          score: (StructType, Seq[Row]) => DataFrame): Option[BoundValue] = {
    val radix = stats.map(_.binMeans.size) ++ catStats.map(_.values.size)
    val nCells = radix.foldLeft(1L)((n, r) => math.min(n * r, LatticeGate + 1L))
    val keys = rows.map(_.getLong(radix.size + 1))
    if (nCells > LatticeGate || keys.distinct.length < keys.length) return None
    val cells = nCells.toInt
    val nNum = stats.size
    val d = radix.size
    // scorer input: each cell's per-feature bin mean or category value
    // (mixed-radix digits, the first feature most significant), then
    // each instance's own values; `__cell` keys the scores
    val cellRows = (0 until cells).map { code =>
      val vals = new Array[Any](d)
      var rest = code
      for (j <- d - 1 to 0 by -1) {
        val b = rest % radix(j)
        vals(j) = if (j < nNum) stats(j).binMeans(b) else catStats(j - nNum).values(b)
        rest /= radix(j)
      }
      Row.fromSeq(vals.toSeq ++ vals :+ code)
    }
    val instRows = rows.indices.map { i =>
      val vals = (0 until d).map(rows(i).get)
      Row.fromSeq(vals ++ vals :+ (cells + i))
    }
    val names = stats.map(_.name) ++ catStats.map(_.name)
    val schema = StructType((names ++ names.map(_ + "__val")).zipWithIndex.map { case (f, j) =>
      StructField(f, if (j % d < nNum) DoubleType else StringType)
    } :+ StructField("__cell", IntegerType, nullable = false))
    val scored = score(schema, cellRows ++ instRows).collect()
    val y = new Array[Double](cells + rows.length)
    val have = new java.util.BitSet(y.length)
    scored.foreach { r =>
      if (!r.isNullAt(1)) { y(r.getInt(0)) = r.getDouble(1); have.set(r.getInt(0)) }
    }
    if (have.cardinality() < y.length) return None
    val order = keys.indices.sortBy(keys(_))
    def arrayData(xs: Seq[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    val bound = new Lattice(cfg.nSamples,
      tags = (stats.map(_.name) ++ catStats.map("cat:" + _.name)).map(UTF8String.fromString).toArray,
      edges = stats.map(st => arrayData(st.edges)).toArray,
      cumFreqs = (stats.map(_.binCumFreqs) ++ catStats.map(_.cumFreqs)).map(arrayData).toArray,
      catValues = catStats.map(_.values.map(UTF8String.fromString).toArray).toArray,
      radix = radix.toArray,
      scores = y.take(cells),
      keys = order.map(keys).toArray,
      instanceScores = order.map(i => y(cells + i)).toArray,
      // the fan-out's sqrt(exp(-d² / w²)) at each integer d² = mismatches
      weights = Array.tabulate(d + 1)(k => math.sqrt(StrictMath.exp(-k.toDouble / (width * width)))))
    Some(BoundValue(bound, ObjectType(classOf[Lattice]), "lattice"))
  }
}
