package graft.lime

import graft.{SparkSpec, Tables}
import graft.lime.Lime.LimeConfig
import graft.operators.LimeOps
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The lattice path of a discretized `explainTabular` request (score
  * the lattice once, fold each instance in-row) against the fan-out
  * path it replaces: the same rows, bit for bit and in the same order.
  */
class LimeLatticeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val feats = LimeOps.limeFeatures
  private val cats = Seq("l_returnflag", "l_linestatus")

  private def lineitems(maxOrderkey: Int): DataFrame =
    LimeOps.withKey(Tables.lineitem(spark, dir).filter(col("l_orderkey") <= maxOrderkey))

  private lazy val instances: DataFrame =
    lineitems(10).select((Seq("instance_id") ++ feats).map(col): _*)

  private lazy val catInstances: DataFrame =
    lineitems(10).select((Seq("instance_id") ++ feats.take(2) ++ cats).map(col): _*)

  private lazy val mllibScorer: DataFrame => DataFrame = {
    val li = Tables.lineitem(spark, dir).limit(2000)
      .withColumn("label", (col("l_discount") > 0.05).cast("double"))
    val asm = new VectorAssembler().setInputCols(feats.toArray).setOutputCol("features")
    val model: PipelineModel = new Pipeline().setStages(Array(
      new StandardScaler().setInputCol("features").setOutputCol("scaled"),
      new LogisticRegression().setFeaturesCol("scaled").setMaxIter(10))).fit(asm.transform(li))
    LimeMllib.scoreFn(model, feats)
  }

  /** A closed-form black box over two numeric and two categorical
    * features, the shape of the registry's `lime_explain_cat`. */
  private val catScorer: DataFrame => DataFrame = { df =>
    val lin = lit(0.2) + lit(0.03) * col("l_quantity__val") -
      lit(0.00001) * col("l_extendedprice__val") +
      when(col("l_returnflag__val") === "R", 1.5).otherwise(0.0) +
      when(col("l_linestatus__val") === "F", -0.8).otherwise(0.0)
    df.withColumn("pred", lit(1.0) / (lit(1.0) + exp(-lin)))
  }

  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Array[Byte] => b.toSeq
    case x => x
  })

  private def shuffles(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeLike => e }.size
  }

  /** Explains with both paths and asserts the same schema and the same
    * rows, bit for bit and in order; returns the shuffle count of the
    * default path's plan. */
  private def samePaths(inst: DataFrame, numeric: Seq[String], cfg: LimeConfig,
                        scoreFn: Option[DataFrame => DataFrame],
                        catFeatures: Seq[String] = Nil): Int = {
    val viaDefault = Lime.explainTabular(inst, "instance_id", numeric, cfg, scoreFn, catFeatures)
    val viaFanOut = Lime.explainTabular(inst, "instance_id", numeric, cfg, scoreFn, catFeatures,
      lattice = false)
    assert(viaDefault.schema == viaFanOut.schema)
    val got = viaDefault.collect()
    val want = viaFanOut.collect()
    assert(got.nonEmpty && shuffles(viaFanOut) == 1)
    assert(bits(got) == bits(want), s"$cfg: lattice rows differ from the fan-out's")
    shuffles(viaDefault)
  }

  test("scalar u01 equals the Column u01 chain for long, int and string ids") {
    val s = spark
    import s.implicits._
    val ids = s.range(0, 500).select(col("id"), col("id").cast("int").as("i"),
      concat(lit("doc-"), col("id").cast("string")).as("str"))
    for (idCol <- Seq("id", "i", "str"); tag <- Seq("l_quantity", "cat:l_returnflag")) {
      val got = ids.select(xxhash64(lit(7L), col(idCol)), col("id").cast("int"),
          Rng.u01(lit(7L), col(idCol), (col("id") % 97).cast("int"), lit(tag)))
        .as[(Long, Int, Double)].collect()
      got.foreach { case (idHash, id, u) =>
        val twin = Rng.u01(idHash, id % 97, UTF8String.fromString(tag))
        assert(java.lang.Double.doubleToRawLongBits(twin) == java.lang.Double.doubleToRawLongBits(u),
          s"$idCol $id $tag: scalar $twin, column $u")
      }
    }
  }

  test("lattice path equals the fan-out bit for bit: demo and MLlib scorers, selections") {
    for (scorer <- Seq(None, Some(mllibScorer));
         cfg <- Seq(LimeConfig(nSamples = 512, kFeatures = 4),
           LimeConfig(nSamples = 300, kFeatures = 2, selection = "forward_selection", seed = 7),
           LimeConfig(nSamples = 200, kFeatures = 2, selection = "none", kernelWidth = Some(0.9))))
      assert(samePaths(instances, feats, cfg, scorer) == 0, s"$cfg: the lattice path shuffled")
  }

  test("lattice path equals the fan-out bit for bit with categorical features, a null among them") {
    val cfg = LimeConfig(nSamples = 512, kFeatures = 3)
    assert(samePaths(catInstances, feats.take(2), cfg, Some(catScorer), cats) == 0)
    // one instance's returnflag is null: a category of its own, with
    // its own lattice slot
    val withNull = catInstances.withColumn("l_returnflag",
      when(col("instance_id") === catInstances.agg(min("instance_id")).head().getLong(0),
        lit(null).cast("string")).otherwise(col("l_returnflag")))
    assert(samePaths(withNull, feats.take(2), cfg, Some(catScorer), cats) == 0)
  }

  test("lattice path equals the fan-out over several input partitions, AQE on and off") {
    val parted = spark.createDataFrame(
      spark.sparkContext.parallelize(instances.collect().toSeq, 5), instances.schema)
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try assert(samePaths(parted, feats, LimeConfig(nSamples = 128), Some(mllibScorer)) == 0)
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("an int-typed numeric feature takes the lattice path and gives its double cast's rows") {
    val numeric = "l_linenumber" +: feats.tail
    val asInt = lineitems(10).select((Seq("instance_id") ++ numeric).map(col): _*)
    val asDouble = asInt.withColumn("l_linenumber", col("l_linenumber").cast("double"))
    val cfg = LimeConfig(nSamples = 256)
    assert(samePaths(asInt, numeric, cfg, None) == 0, "the int-typed request shuffled")
    assert(bits(Lime.explainTabular(asInt, "instance_id", numeric, cfg).collect()) ==
      bits(Lime.explainTabular(asDouble, "instance_id", numeric, cfg).collect()))
  }

  test("above the lattice gate (deciles: 10^4 cells) a request keeps the fan-out") {
    val cfg = LimeConfig(nSamples = 256, nBins = 10)
    assert(math.pow(cfg.nBins, feats.size) > Lime.LatticeGate)
    assert(samePaths(instances, feats, cfg, None) == 1, "expected the fan-out's ridge shuffle")
  }

  test("lattice path equals the fan-out in rows and schema for each id type, a null, a NaN and a -0.0 id") {
    val id = col("instance_id")
    val first = id === instances.agg(min("instance_id")).head().getLong(0)
    val ids = Seq(id, coalesce(id, lit(-1L)), id.cast("int"), id.cast("string"),
      (id / 4).cast("decimal(20,2)"), date_add(lit("2020-01-01").cast("date"),
        (id / 1000000).cast("int") * 1000 + (id % 1000).cast("int")),
      timestamp_seconds(id), id.cast("string").cast("binary"), array(id, id % 3),
      when(first, lit(Double.NaN)).otherwise(id.cast("double")),
      when(first, lit(-0.0)).otherwise(id.cast("double")),
      when(first, lit(java.lang.Double.longBitsToDouble(0x7ff8000000000001L))).otherwise(id.cast("double")),
      when(first, array(lit(-0.0))).otherwise(array(id.cast("double"))),
      when(first, lit(null).cast("long")).otherwise(id),
      when(first, lit(null).cast("string")).otherwise(id.cast("string")))
    val sets = ids.map(instances.withColumn("instance_id", _))
    assert(sets.map(_.schema("instance_id").nullable).toSet == Set(true, false))
    // samePaths: equal schemas (names, types, nullability) and rows
    for (inst <- sets) assert(samePaths(inst, feats, LimeConfig(nSamples = 128, kFeatures = 3), None) == 0,
      s"${inst.schema("instance_id")}: the lattice path shuffled")
  }

  test("an empty instance set fails at build on both paths with the same error") {
    val empty = catInstances.filter(lit(false))
    for ((numeric, catFeatures) <- Seq((feats.take(2), cats), (Nil, cats))) {
      val errors = Seq(true, false).map { lattice =>
        intercept[IllegalArgumentException](Lime.explainTabular(empty, "instance_id", numeric,
          LimeConfig(nSamples = 16), None, catFeatures, lattice)).getMessage
      }
      assert(errors.distinct.size == 1 && errors.head.contains("has no"), s"$errors")
    }
  }

  test("the lattice path scores each lattice cell and each instance exactly once") {
    val scored = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val counting: DataFrame => DataFrame = { df => scored += df; mllibScorer(df) }
    val n = instances.count()
    Lime.explainTabular(instances, "instance_id", feats, LimeConfig(nSamples = 5000),
      Some(counting)).collect()
    assert(scored.size == 1, s"scoreFn called ${scored.size} times")
    val rows = scored.head.count()
    val distinct = scored.head.select(feats.map(f => col(s"${f}__val")): _*).distinct().count()
    // 4^4 quartile cells plus the instances; score_unique_ratio = 1.0
    assert(rows == 256 + n, s"$rows rows scored, want ${256 + n}")
    assert(distinct == rows, s"$distinct distinct of $rows scored rows")
  }
}
