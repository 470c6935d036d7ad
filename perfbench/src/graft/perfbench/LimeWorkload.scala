package graft.perfbench

import graft.lime.{Lime, LimeMllib, RidgeAggregator, RidgeSample, SpLime}
import graft.lime.Lime.LimeConfig
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The two LIME workloads. Both explain lineitem rows against an MLlib
  * black box (StandardScaler + LogisticRegression pipeline) fit in
  * set-up, through the public entry points `Lime.explainTabular` with
  * `LimeMllib.scoreFn`; `lime_batch` then runs `SpLime.pick`.
  *
  * Instances come from a pool drawn by the seed (a hash of the seed
  * and the lineitem's columns), sorted by all its columns and numbered
  * 0..n-1: the id is unique by construction and asserted so. Request i
  * draws its instances from the pool with a generator seeded by
  * (seed, i), so the same seed gives the same requests.
  */
object LimeWorkload {

  val features: Seq[String] = graft.operators.LimeOps.limeFeatures
  private val PoolMod = 128 // ~4,700 pool rows out of 600,000 lineitems

  /** The black box's target: a noisy linear rule over the four
    * features, so the fitted model has smooth, non-trivial
    * probabilities for LIME to explain.
    */
  private def label: org.apache.spark.sql.Column = {
    val noise = (pmod(xxhash64(col("l_orderkey"), col("l_partkey"), col("l_linenumber")),
      lit(1000)) / 1000.0 - 0.5) * 0.6
    (col("l_extendedprice") / 105000.0 + col("l_quantity") / 50.0 -
      col("l_discount") * 8.0 - col("l_tax") * 5.0 + noise > 0.4).cast("double")
  }

  private val instSchema = StructType(StructField("instance_id", LongType, nullable = false) +:
    features.map(StructField(_, DoubleType, nullable = false)))

  /** What one successful operation returned, kept for the checks. */
  final case class Result(i: Int, ids: Seq[Long], rows: Array[Row],
                          picks: Seq[(Int, Long, Double)])

  abstract class Base(a: Main.Args) extends Workload {
    def nInstances: Int
    def cfg: LimeConfig
    def pickB: Int

    private var spark: SparkSession = _
    private var scoreFn: DataFrame => DataFrame = _
    private var pool: Array[Row] = _
    private var bbPred: Map[Long, Double] = _
    private var withIdCollisions = 0
    private val results = mutable.ArrayBuffer.empty[Result]

    def prepare(s: SparkSession): Unit = {
      spark = s
      results.clear()
      val li = s.read.parquet(s"${a.data}/lineitem.parquet")
      val assembler = new VectorAssembler().setInputCols(features.toArray).setOutputCol("features")
      // a 2% training sample, cached once for the scaler and the
      // optimizer's passes instead of re-scanning parquet per pass
      val train = li.where(pmod(xxhash64(col("l_orderkey"), col("l_partkey")), lit(50)) === 0)
        .select((features.map(col) :+ label.as("label")): _*)
        .coalesce(a.cpus).cache()
      val model: PipelineModel = new Pipeline().setStages(Array(
        new StandardScaler().setInputCol("features").setOutputCol("scaled")
          .setWithMean(true).setWithStd(true),
        new LogisticRegression().setFeaturesCol("scaled").setLabelCol("label")
          .setMaxIter(50).setRegParam(0.001))).fit(assembler.transform(train))
      train.unpersist()
      scoreFn = LimeMllib.scoreFn(model, features)

      val keys = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_shipdate")
      val drawn = li.where(pmod(xxhash64((lit(a.seed) +: keys.map(col)): _*), lit(PoolMod)) === 0)
        .select((keys ++ features).map(col): _*)
        .orderBy((keys ++ features).map(col): _*)
        .collect()
      pool = drawn.zipWithIndex.map { case (r, id) =>
        Row.fromSeq(id.toLong +: features.indices.map(j => r.getDouble(keys.size + j)))
      }
      require(pool.map(_.getLong(0)).distinct.length == pool.length, "instance ids not unique")
      require(pool.length >= nInstances, s"pool of ${pool.length} rows < $nInstances instances")
      // the registry's lineitem id (l_orderkey * 10 + l_linenumber) is
      // not a key: count the pool rows it would merge into another
      withIdCollisions = drawn.length -
        drawn.map(r => r.getLong(0) * 10 + r.getInt(1)).distinct.length
      bbPred = model.transform(assembler.transform(instances(pool.indices)))
        .select(col("instance_id"), vector_to_array(col("probability")).getItem(1))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }

    private def draw(i: Int, n: Int = nInstances): Seq[Int] = {
      val rnd = new scala.util.Random(a.seed * 1000003L + i)
      rnd.shuffle(pool.indices.toVector).take(n).sorted
    }

    private def instances(idx: Seq[Int]): DataFrame =
      spark.createDataFrame(idx.map(pool(_)).asJava, instSchema)

    private def explain(inst: DataFrame): DataFrame =
      Lime.explainTabular(inst, "instance_id", features, cfg, Some(scoreFn))

    def run(i: Int, tracer: Option[Tracer]): Main.Outcome = try {
      val idx = draw(i)
      val inst = instances(idx)
      def timed() = {
        val (df, build) = Main.time(explain(inst))
        val (_, plan) = Main.time(df.queryExecution.executedPlan)
        val (rows, exec) = Main.time(df.collect())
        val (picks, pick) =
          if (pickB == 0) (Nil, 0.0)
          else Main.time(SpLime.pick(spark.createDataFrame(rows.toSeq.asJava, df.schema), pickB))
        (rows, picks, Map("build_s" -> build, "plan_s" -> plan, "exec_s" -> exec, "pick_s" -> pick))
      }
      val cpu0 = Main.cpuSeconds()
      val (((rows, picks, layers), wall), counters) = tracer match {
        case Some(t) => val (r, c) = t.around(Main.time(timed())); (r, Some(c))
        case None => (Main.time(timed()), None)
      }
      val cpu = Main.cpuSeconds() - cpu0
      results += Result(i, idx.map(pool(_).getLong(0)), rows, picks)
      val all = if (tracer.isEmpty) layers else layers ++ prefixLayers(inst, layers("exec_s"))
      Main.Outcome(Some(Main.Op(wall, cpu, idx.size, all, counters)), 1, Nil)
    } catch {
      case NonFatal(e) => Main.Outcome(None, 1, Seq(Main.failure(s"request $i", e)))
    }

    /** Prefix-materialization self times for one traced request: the
      * perturb frame, then perturb + score, each written to the noop
      * sink; the remainder of the collect is kernel, ridge and top-K.
      */
    private def prefixLayers(inst: DataFrame, exec: Double): Map[String, Double] = {
      def noop(df: DataFrame): Double =
        Main.time(df.write.format("noop").mode("overwrite").save())._2
      val stats = Lime.fitStats(inst, features, cfg.nBins, smallInput = true)
      val pert = Lime.perturb(inst, "instance_id", stats, cfg)
      val perturb = noop(pert)
      val scored = scoreFn(pert)
      val prefix = noop(scored)
      val samples = nInstances.toLong * cfg.nSamples
      val distinct = scored.select(features.map(f => col(s"${f}__val")): _*).distinct().count()
      Map("perturb_s" -> perturb, "score_s" -> (prefix - perturb), "fit_s" -> (exec - prefix),
        "samples" -> samples.toDouble, "score_unique_ratio" -> distinct.toDouble / samples)
    }

    override def notes: Seq[String] = Seq(
      s"instance pool: ${pool.length} lineitem rows with unique ids 0..${pool.length - 1}",
      s"the registry id l_orderkey*10+l_linenumber would merge $withIdCollisions of them")

    private var fidelity: Seq[Double] = Nil
    override def extra: Map[String, Any] = Map(
      "fidelity_err_p50" -> (if (fidelity.isEmpty) Double.NaN else median(fidelity)),
      "explanations" -> fidelity.size)

    private def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    def check(): Seq[String] = {
      val errs = mutable.ArrayBuffer.empty[String]
      val fid = mutable.ArrayBuffer.empty[Double]
      results.foreach { res =>
        val byId = res.rows.groupBy(_.getAs[Long]("instance_id"))
        if (byId.keySet != res.ids.toSet)
          errs += s"request ${res.i}: explained ids differ from the ${res.ids.size} requested"
        byId.foreach { case (id, rs) =>
          if (rs.length != cfg.kFeatures)
            errs += s"request ${res.i}: instance $id has ${rs.length} rows, not ${cfg.kFeatures}"
          val bad = rs.exists(r => Seq("weight", "intercept", "r2", "local_pred")
            .exists(c => r.isNullAt(r.fieldIndex(c)) || !r.getAs[Double](c).isFinite))
          if (bad) errs += s"request ${res.i}: instance $id has a non-finite output"
          else fid += math.abs(rs.head.getAs[Double]("local_pred") - bbPred(id))
        }
        if (pickB > 0) errs ++= checkPicks(res)
      }
      fidelity = fid.toSeq
      results.headOption.foreach { first =>
        val inst = instances(first.ids.map(_.toInt)) // ids are pool positions
        if (!sameRows(first.rows, explain(inst).collect()))
          errs += s"request ${first.i}: repeated request is not bit-identical"
        errs ++= ridgeCheck(inst, first.rows, first.ids.take(2))
      }
      if (results.isEmpty) errs += "no request completed"
      errs.toSeq
    }

    private def sameRows(x: Array[Row], y: Array[Row]): Boolean =
      x.length == y.length && x.zip(y).forall { case (r, s) =>
        r.toSeq.zip(s.toSeq).forall {
          case (u: Double, v: Double) =>
            java.lang.Double.doubleToRawLongBits(u) == java.lang.Double.doubleToRawLongBits(v)
          case (u, v) => u == v
        }
      }

    /** Recomputes the weighted ridge of a few instances on the driver
      * with RidgeAggregator, from the collected weighted samples, and
      * compares it with the explanation rows.
      */
    private def ridgeCheck(inst: DataFrame, rows: Array[Row], ids: Seq[Long]): Seq[String] = {
      val stats = Lime.fitStats(inst, features, cfg.nBins, smallInput = true)
      val d = features.size
      val width = cfg.kernelWidth.getOrElse(0.75 * math.sqrt(d))
      // the RNG is counter-based per (instance, sample): perturbing only
      // the checked instances, with the request's stats, gives their rows
      val checked = inst.where(col("instance_id").isin(ids: _*))
      val samples = scoreFn(Lime.perturb(checked, "instance_id", stats, cfg))
        .select((col("instance_id") +: features.flatMap(f =>
          Seq(col(f), col(s"${f}__z"), col(s"${f}__val"))) :+ col("pred")): _*)
        .collect()
      def close(x: Double, y: Double) =
        math.abs(x - y) <= 1e-7 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      ids.flatMap { id =>
        val agg = new RidgeAggregator(d, cfg.lambda)
        var buf = agg.zero
        var instVals = Seq.empty[Double]
        samples.filter(_.getLong(0) == id).foreach { r =>
          val x = features.indices.map(j => r.getDouble(1 + 3 * j))
          val z = features.indices.map(j => r.getDouble(2 + 3 * j))
          val v = features.indices.map(j => r.getDouble(3 + 3 * j))
          instVals = x
          val d2 =
            if (cfg.discretize) z.map(1.0 - _).sum
            else stats.indices.map(j =>
              math.pow((v(j) - x(j)) / math.max(stats(j).std, 1e-12), 2)).sum
          buf = agg.reduce(buf, RidgeSample(z.toArray, r.getDouble(1 + 3 * d),
            math.sqrt(math.exp(-d2 / (width * width)))))
        }
        val fit = agg.finish(buf)
        val localPred =
          if (cfg.discretize) fit.localPred
          else fit.intercept + stats.indices.map(j =>
            fit.coefs(j) * (instVals(j) - stats(j).mean) / math.max(stats(j).std, 1e-12)).sum
        rows.filter(_.getAs[Long]("instance_id") == id).flatMap { r =>
          val j = features.indexOf(r.getAs[String]("feature"))
          val ok = j >= 0 && close(r.getAs[Double]("weight"), fit.coefs(j)) &&
            close(r.getAs[Double]("intercept"), fit.intercept) &&
            close(r.getAs[Double]("r2"), fit.r2) &&
            close(r.getAs[Double]("local_pred"), localPred)
          if (ok) None
          else Some(s"instance $id feature ${r.getAs[String]("feature")}: ridge recompute " +
            s"(${fit.coefs.lift(j)}, ${fit.intercept}, ${fit.r2}, $localPred) differs from $r")
        }.toSeq
      }
    }

    /** SP-LIME pick: B distinct requested instances, greedy gains
      * non-increasing, and the first gain equal to the largest
      * importance sum any single instance covers.
      */
    private def checkPicks(res: Result): Seq[String] = {
      val p = res.picks
      val errs = mutable.ArrayBuffer.empty[String]
      if (p.size != math.min(pickB, res.ids.size)) errs += s"pass ${res.i}: ${p.size} picks"
      if (p.map(_._2).distinct.size != p.size) errs += s"pass ${res.i}: repeated pick"
      if (!p.forall(x => res.ids.contains(x._2)))
        errs += s"pass ${res.i}: pick outside the instances"
      if (p.zip(p.drop(1)).exists { case (x, y) => y._3 > x._3 + 1e-9 })
        errs += s"pass ${res.i}: greedy gains increase"
      val w = res.rows.map(r => (r.getAs[Long]("instance_id"), r.getAs[String]("feature"),
        math.abs(r.getAs[Double]("weight")))).filter(_._3 > 0)
      val imp = w.groupBy(_._2).map { case (f, xs) => f -> math.sqrt(xs.map(_._3).sum) }
      val best = w.groupBy(_._1).values.map(_.map(x => imp(x._2)).sum).max
      if (p.nonEmpty && math.abs(p.head._3 - best) > 1e-9 * math.max(1.0, best))
        errs += s"pass ${res.i}: first pick gain ${p.head._3} != best coverage $best"
      errs.toSeq
    }
  }

  /** Interactive requests: 8 instances, N = 5000, quartile bins. */
  class Tabular(a: Main.Args) extends Base(a) {
    val nInstances = 8
    val cfg = LimeConfig(nSamples = 5000, kFeatures = 4, seed = a.seed, discretize = true,
      nBins = 4)
    val pickB = 0
    override def warmupSeconds: Double = 6.0
  }

  /** Population pass: continuous sampling, then SP-LIME pick. */
  class Batch(a: Main.Args) extends Base(a) {
    val nInstances = 128
    val cfg = LimeConfig(nSamples = 1000, kFeatures = 4, seed = a.seed, discretize = false)
    val pickB = 10
    override def warmupSeconds: Double = 5.0
  }
}
