package graft.lime

import graft.lime.Lime.LimeConfig
import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** One analyzed plan of an explain request, built once per request
  * shape, by its first request, and bound into by every later request
  * of that shape. The plan is held with that request's input replaced
  * by a local relation of its output with no rows, the slot, and with
  * every named [[BoundValue]] emptied, so it keeps no instance, no
  * lattice row and no statistic of the request that built it. Binding
  * substitutes
  *  - the slot: a request's input plan, whose output takes the place
  *    of the slot's attributes;
  *  - each named BoundValue: the request's value of that name.
  *
  * The bound plan is analyzed as it stands, so a bound request neither
  * rebuilds its plan nor runs the analyzer. Its own attributes keep the
  * template's expression ids: two bound results of one template union,
  * and join on a named column, as two results of one DataFrame do.
  */
private[lime] final class RequestTemplate private (plan: LogicalPlan, slot: Seq[Attribute]) {

  /** The request over the input plan `fill` (its output must have the
    * slot's schema), with each named BoundValue taken from `values`. */
  def bind(spark: SparkSession, fill: LogicalPlan, values: Map[String, BoundValue]): DataFrame = {
    val attrs = AttributeMap(slot.zip(fill.output))
    GraftColumnShim.ofRows(spark, plan.transformUp {
      case l: LocalRelation if l.output == slot => fill
      case node => node.transformExpressions {
        case a: AttributeReference if attrs.contains(a) => attrs(a)
        case b: BoundValue if b.name.nonEmpty => values.get(b.name) match {
          case Some(v) if v.dataType == b.dataType => v
          case v => throw new IllegalStateException(
            s"request template: ${b.name} (${b.dataType}) is bound to $v")
        }
      }
    })
  }

  /** The cached plan, for specs. */
  private[lime] def held: LogicalPlan = plan
}

private[lime] object RequestTemplate {

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

  /** Each shape's template, or None for a shape whose plan is built per
    * request. */
  private val held = new java.util.LinkedHashMap[Shape, Option[RequestTemplate]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Shape, Option[RequestTemplate]]): Boolean =
      size > MaxTemplates
  }

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
      build: DataFrame => DataFrame): DataFrame = {
    val hit = held.synchronized {
      held.keySet.removeIf(s => s.session.get() == null || s.scorer.exists(_.get() == null))
      held.get(shape)
    }
    val fill = input.queryExecution.analyzed
    if (hit != null) hit.fold(build(input))(_.bind(input.sparkSession, fill, values))
    else {
      val built = build(input)
      val made = template(built.queryExecution.analyzed, fill)
      held.synchronized(held.put(shape, made))
      built
    }
  }

  /** `plan` held over `input`, the plan it was built over, or None when
    * `input` is not its one relation. */
  private def template(plan: LogicalPlan, input: LogicalPlan): Option[RequestTemplate] = {
    val slot = LocalRelation(input.output)
    val over = plan.transformDownWithSubqueries { case p if p == input => slot }
    if (over.collectWithSubqueries { case l: LeafNode => l } != Seq(slot)) None
    else Some(new RequestTemplate(over.transformAllExpressions {
      case b: BoundValue if b.name.nonEmpty => b.copy(value = null)
    }, slot.output))
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
