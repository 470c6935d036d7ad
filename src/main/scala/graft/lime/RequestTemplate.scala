package graft.lime

import graft.lime.Lime.LimeConfig
import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeReference, Expression, InterpretedMutableProjection, LeafExpression, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** One part of an explain request, made once per request shape, by its
  * first request, and used by every later request of that shape. It
  * keeps no instance, no lattice row and no statistic of the request
  * that made it. There are two kinds:
  *  - [[RequestTemplate.Plan]]: the request's analyzed plan, with its
  *    input replaced by a local relation of its output with no rows
  *    (the slot) and every named [[BoundValue]] emptied. A later request
  *    binds its input plan into the slot and its values by name, so it
  *    neither rebuilds its plan nor runs the analyzer.
  *  - [[RequestTemplate.Scores]]: the lattice scores, a held evaluator.
  *    The scorer's plan above the slot must be deterministic
  *    projections, and nothing else; they are evaluated on the driver
  *    as the optimizer's local-relation rule evaluates them, so a later
  *    request's scores are rows in, rows out, with no DataFrame,
  *    analyzer, optimizer, code generation or job.
  */
private[lime] sealed abstract class RequestTemplate

private[lime] object RequestTemplate {

  /** A request's analyzed plan over the slot. Its bound plans keep the
    * template's expression ids: two bound results of one template
    * union, and join on a named column, as two results of one DataFrame
    * do. */
  final class Plan private[RequestTemplate] (plan: LogicalPlan, slot: Seq[Attribute])
      extends RequestTemplate {

    /** The request over the input plan `fill` (its output must have the
      * slot's schema), with each named BoundValue taken from `values`. */
    def bind(spark: SparkSession, fill: LogicalPlan, values: Map[String, BoundValue]): DataFrame = {
      val attrs = AttributeMap(slot.zip(fill.output))
      GraftColumnShim.ofRows(spark, plan.transformUp {
        case l: LocalRelation if l.output == slot => fill
        case node => node.transformExpressions {
          case a: AttributeReference if attrs.contains(a) => attrs(a)
          case b: BoundValue if b.name.nonEmpty => value(b.name, b.dataType, values)
        }
      })
    }

    /** The cached plan, for specs. */
    private[lime] def held: LogicalPlan = plan
  }

  /** The scores of a lattice request: the scorer's projections, bottom
    * up, each over the output of the one below (the first over the
    * slot), evaluated as `ConvertToLocalRelation` evaluates a projection
    * of a local relation — an `InterpretedMutableProjection` over the
    * projection's expressions after finish-analysis, applied to each
    * row and copied. The projections are made once, so the encoder
    * converters of their UDFs are too. Each named BoundValue reads the
    * value its request bound to that name ([[BoundName]]).
    *
    * Projections reuse their output row and UDF converters hold state,
    * so one request at a time evaluates them. */
  final class Scores private[RequestTemplate] (layers: Seq[InterpretedMutableProjection],
                                               exprs: Seq[Expression], names: BoundNames)
      extends RequestTemplate {

    /** `rows`, in the slot's schema, scored: (`__cell`, `pred`) each,
      * in order. */
    def apply(spark: SparkSession, rows: Seq[InternalRow],
              values: Map[String, BoundValue]): Seq[InternalRow] = synchronized {
      names.values = names.read.map { case (n, t) => n -> value(n, t, values).value }
      try GraftColumnShim.withActive(spark)(layers.foldLeft(rows)((in, p) => in.map(p(_).copy())))
      finally names.values = Map.empty
    }

    /** The held expressions and the values they read now, for specs. */
    private[lime] def held: (Seq[Expression], Map[String, Any]) = (exprs, names.values)
  }

  /** The values a held evaluator's [[BoundName]]s read: set for one
    * request while it is evaluated, and empty otherwise. */
  final class BoundNames(val read: Map[String, DataType]) {
    var values: Map[String, Any] = Map.empty
  }

  /** A named [[BoundValue]] in a held evaluator: the value the request
    * being evaluated bound to `name`. */
  case class BoundName(name: String, dataType: DataType, of: BoundNames)
      extends LeafExpression with CodegenFallback {
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = of.values(name)
  }

  private def value(name: String, dataType: DataType, values: Map[String, BoundValue]): BoundValue =
    values.get(name) match {
      case Some(v) if v.dataType == dataType => v
      case v => throw new IllegalStateException(
        s"request template: $name ($dataType) is bound to $v")
    }

  /** What fixes an explain request's plans: its session, the session's
    * SQL conf (analysis reads it), its `scoreFn` by reference (None for
    * a plan that does not call it, and for the demo scorer), columns,
    * config and instance schema (names, types, nullability), and which
    * of its plans (`part`) this is. */
  final case class Shape(session: Ref, conf: Map[String, String], scorer: Option[Ref],
                         idCol: String, features: Seq[String], catFeatures: Seq[String],
                         cfg: LimeConfig, schema: StructType, part: String = "")

  /** An object by reference, held weakly: once its owner drops it (a
    * session, a `scoreFn`), the shapes that name it leave the cache at
    * the next lookup. */
  final class Ref(o: AnyRef) extends java.lang.ref.WeakReference[AnyRef](o) {
    private val hash = System.identityHashCode(o)
    override def hashCode: Int = hash
    override def equals(other: Any): Boolean = other match {
      case r: Ref => (r eq this) || { val p = get(); p != null && (p eq r.get()) }
      case _ => false
    }
  }

  /** The shapes the cache holds at most, over all sessions; the least
    * recently used leaves first. The bound also frees a dropped session
    * whose templates reach it (an MLlib model fit in the session keeps
    * its training summary, a DataFrame of that session): its shapes
    * leave after this many newer ones. */
  val MaxTemplates = 32

  /** Each shape's template, or None for a shape whose part is built per
    * request. */
  private val held = new java.util.LinkedHashMap[Shape, Option[RequestTemplate]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Shape, Option[RequestTemplate]]): Boolean =
      size > MaxTemplates
  }

  /** The shape's entry: None for a shape not seen yet. */
  private def lookup(shape: Shape): Option[Option[RequestTemplate]] = held.synchronized {
    held.keySet.removeIf(s => s.session.get() == null || s.scorer.exists(_.get() == null))
    Option(held.get(shape))
  }

  private def hold(shape: Shape, t: Option[RequestTemplate]): Unit = held.synchronized(held.put(shape, t))

  /** The request `build` makes of `input`, whose schema is `shape`'s.
    * The first request of a shape is `build(input)`, and its analyzed
    * plan becomes the shape's template; every later one is bound into
    * that template, its input plan in the slot and each named
    * BoundValue taken from `values`.
    *
    * A plan that reads anything besides its input (another relation, a
    * subquery, its input through an RDD or a checkpoint, or its input
    * twice) gets no template: each request of its shape is
    * `build(input)`, as a request without templates is.
    */
  def request(input: DataFrame, shape: Shape, values: Map[String, BoundValue])(
      build: DataFrame => DataFrame): DataFrame = lookup(shape) match {
    case Some(Some(t: Plan)) => t.bind(input.sparkSession, input.queryExecution.analyzed, values)
    case Some(_) => build(input)
    case None =>
      val built = build(input)
      hold(shape, plan(built.queryExecution.analyzed, input.queryExecution.analyzed))
      built
  }

  /** The scores `build` makes of a local relation of `rows` (of
    * `schema`), with each named BoundValue taken from `values`: the
    * rows `build`'s plan returns, collected. The first request of a
    * shape builds and collects the plan, and holds its evaluator
    * ([[Scores]]); every later one evaluates it.
    *
    * A plan above its input that is anything but deterministic
    * projections (a filter, a join, a sort, an RDD round trip, a random
    * value, a UDF marked nondeterministic) gets no evaluator: each
    * request of its shape builds and collects its plan. So does one
    * whose evaluator does not give the first request's rows bit for
    * bit.
    */
  def scores(spark: SparkSession, schema: StructType, rows: Seq[InternalRow], shape: Shape,
             values: Map[String, BoundValue])(build: DataFrame => DataFrame): Seq[InternalRow] =
    lookup(shape) match {
      case Some(Some(t: Scores)) => t(spark, rows, values)
      case hit =>
        val input = GraftColumnShim.localFrame(spark, schema, rows)
        val built = build(input)
        val got = GraftColumnShim.collectInternal(built).toSeq
        if (hit.isEmpty) hold(shape, evaluator(spark, built.queryExecution.analyzed,
          input.queryExecution.analyzed).filter(t => same(t(spark, rows, values), got)))
        got
    }

  /** Two score lists equal bit for bit: (int, double or null) rows. */
  private def same(a: Seq[InternalRow], b: Seq[InternalRow]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.getInt(0) == y.getInt(0) && x.isNullAt(1) == y.isNullAt(1) && (x.isNullAt(1) ||
        java.lang.Double.doubleToRawLongBits(x.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(y.getDouble(1)))
    }

  /** `plan` held over `input`, the plan it was built over, each named
    * BoundValue emptied, or None when `input` is not its one relation. */
  private def over(plan: LogicalPlan, input: LogicalPlan): Option[(LogicalPlan, LocalRelation)] = {
    val slot = LocalRelation(input.output)
    val held = plan.transformDownWithSubqueries { case p if p == input => slot }
    if (held.collectWithSubqueries { case l: LeafNode => l } != Seq(slot)) None
    else Some((held.transformAllExpressions {
      case b: BoundValue if b.name.nonEmpty => b.copy(value = null)
    }, slot))
  }

  private def plan(plan: LogicalPlan, input: LogicalPlan): Option[Plan] =
    over(plan, input).map { case (p, slot) => new Plan(p, slot.output) }

  /** The held evaluator of the scores plan `plan` over `input`, or None
    * when it is not deterministic projections of its input. */
  private def evaluator(spark: SparkSession, plan: LogicalPlan, input: LogicalPlan): Option[Scores] = {
    def layers(p: LogicalPlan, slot: LocalRelation): Option[List[Project]] = p match {
      case `slot` => Some(Nil)
      case pr @ Project(list, child) if list.forall(e => e.deterministic &&
          !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])) =>
        layers(child, slot).map(_ :+ pr)
      case _ => None
    }
    for {
      (p, slot) <- over(plan, input)
      projects <- layers(GraftColumnShim.finishAnalysis(spark, p), slot)
    } yield {
      val read = projects.flatMap(_.projectList.flatMap(_.collect {
        case b: BoundValue if b.name.nonEmpty => b.name -> b.dataType
      })).toMap
      val names = new BoundNames(read)
      val lists = projects.map(_.projectList.map(_.transform {
        case b: BoundValue if b.name.nonEmpty => BoundName(b.name, b.dataType, names)
      }))
      val evals = GraftColumnShim.withActive(spark)(lists.zip(projects).map { case (l, p) =>
        val e = new InterpretedMutableProjection(l, p.child.output)
        e.initialize(0)
        e
      })
      new Scores(evals, lists.flatten, names)
    }
  }

  private def of(spark: SparkSession): Seq[Option[RequestTemplate]] = held.synchronized {
    held.asScala.collect { case (s, t) if s.session.get() eq spark => t }.toSeq
  }

  /** The templates of `spark`, most recently used last (specs). */
  private[lime] def cached(spark: SparkSession): Seq[RequestTemplate] = of(spark).flatten

  /** The shapes of `spark`, with or without a template (specs). */
  private[lime] def shapes(spark: SparkSession): Int = of(spark).size

  /** Drops every template of `spark`, so its next request builds cold
    * (specs). */
  private[lime] def clear(spark: SparkSession): Unit = held.synchronized {
    held.keySet.removeIf(_.session.get() eq spark)
  }
}
