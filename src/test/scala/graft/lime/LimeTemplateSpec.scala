package graft.lime

import graft.{SparkSpec, Tables}
import graft.lime.Lime.LimeConfig
import graft.operators.LimeOps
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Request templates: an explain request bound into its shape's cached
  * template gives the rows of a cold build, bit for bit and in order,
  * without calling its scorer, and the cache keeps none of a request's
  * data.
  */
class LimeTemplateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val feats = LimeOps.limeFeatures
  private val cats = Seq("l_returnflag", "l_linestatus")

  private def lineitems(lo: Int, hi: Int): DataFrame =
    LimeOps.withKey(Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") <= hi))

  /** Two instance sets of one schema, with different rows. */
  private def pair(cols: Seq[String]): (DataFrame, DataFrame) = {
    val sel = (Seq("instance_id") ++ cols).map(col)
    (lineitems(1, 10).select(sel: _*), lineitems(11, 40).select(sel: _*))
  }

  /** `df` held in memory: a local relation. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

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
    * features. */
  private val catScorer: DataFrame => DataFrame = { df =>
    val lin = lit(0.2) + lit(0.03) * col("l_quantity__val") -
      lit(0.00001) * col("l_extendedprice__val") +
      when(col("l_returnflag__val") === "R", 1.5).otherwise(0.0) +
      when(col("l_linestatus__val") === "F", -0.8).otherwise(0.0)
    df.withColumn("pred", lit(1.0) / (lit(1.0) + exp(-lin)))
  }

  /** [[catScorer]] through an RDD and back, as a scorer whose model
    * runs outside Catalyst does (XGBoost4J-Spark's `transform`). */
  private val rddScorer: DataFrame => DataFrame = { df =>
    val scored = catScorer(df)
    scored.sparkSession.createDataFrame(scored.rdd, scored.schema)
  }

  /** [[catScorer]] as an eager batch model: collects the distinct
    * inputs, scores them as one batch and joins the scores back. */
  private val eagerScorer: DataFrame => DataFrame = { df =>
    val keys = Seq("l_quantity__val", "l_extendedprice__val", "l_returnflag__val",
      "l_linestatus__val")
    val batch = catScorer(df.select(keys.map(col): _*).distinct())
    val scores = broadcast(df.sparkSession.createDataFrame(batch.collect().toSeq.asJava,
      batch.schema))
    df.join(scores, keys.map(k => df(k) <=> scores(k)).reduce(_ && _))
      .select(df.columns.map(df(_)) :+ scores("pred"): _*)
  }

  /** `scoreFn` that counts its calls. */
  private final class Counting(scoreFn: DataFrame => DataFrame) extends (DataFrame => DataFrame) {
    @volatile var calls = 0
    def apply(df: DataFrame): DataFrame = { calls += 1; scoreFn(df) }
  }

  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  })

  private def held: Int = RequestTemplate.cached(spark).size

  /** Explains `a` to build the shape's templates, then `b` bound into
    * them, and asserts that `b` built no template and equals its cold
    * build bit for bit. */
  private def boundEqualsCold(a: DataFrame, b: DataFrame, explain: DataFrame => DataFrame): Unit = {
    RequestTemplate.clear(spark)
    assert(explain(a).collect().nonEmpty)
    val built = held
    assert(RequestTemplate.shapes(spark) == built, "a plan of the shape got no template")
    val bound = explain(b).collect()
    assert(held == built, "the second request of a shape built a template")
    RequestTemplate.clear(spark)
    val cold = explain(b).collect()
    assert(bound.nonEmpty && bits(bound) == bits(cold), "a bound request differs from its cold build")
  }

  private def explainer(numeric: Seq[String], cfg: LimeConfig,
                        scoreFn: Option[DataFrame => DataFrame] = None,
                        catFeatures: Seq[String] = Nil,
                        lattice: Boolean = true): DataFrame => DataFrame =
    Lime.explainTabular(_, "instance_id", numeric, cfg, scoreFn, catFeatures, lattice)

  test("a bound request equals its cold build: both paths, demo and MLlib scorers") {
    val (a, b) = pair(feats)
    for (scorer <- Seq(None, Some(mllibScorer));
         (cfg, lattice) <- Seq((LimeConfig(nSamples = 300), true),
           (LimeConfig(nSamples = 300, selection = "forward_selection", kFeatures = 2), false),
           (LimeConfig(nSamples = 200, discretize = false), true)))
      boundEqualsCold(a, b, explainer(feats, cfg, scorer, lattice = lattice))
  }

  test("a bound request equals its cold build when the lattice changes size") {
    val (a, _) = pair(feats.take(2) ++ cats)
    // b has no returnflag "A": one value fewer, a smaller lattice
    val b = a.filter(col("l_returnflag") =!= "A")
    assert(a.select("l_returnflag").distinct().count() == b.select("l_returnflag").distinct().count() + 1)
    for (cfg <- Seq(LimeConfig(nSamples = 256, kFeatures = 3),
         LimeConfig(nSamples = 128, kFeatures = 3, discretize = false)))
      boundEqualsCold(a, b, explainer(feats.take(2), cfg, Some(catScorer), cats))
  }

  test("a bound request equals its cold build: int-typed features, local and parquet instances") {
    val numeric = "l_linenumber" +: feats.tail
    val (ia, ib) = pair(numeric)
    val cfg = LimeConfig(nSamples = 256)
    boundEqualsCold(ia, ib, explainer(numeric, cfg))
    boundEqualsCold(ia, ib, explainer(numeric, cfg.copy(discretize = false)))
    val (a, b) = pair(feats)
    boundEqualsCold(local(a), local(b), explainer(feats, cfg, Some(mllibScorer)))
    val out = java.nio.file.Files.createTempDirectory("lime-template").toString
    try {
      a.write.parquet(s"$out/a"); b.write.parquet(s"$out/b")
      val (pa, pb) = (spark.read.parquet(s"$out/a"), spark.read.parquet(s"$out/b"))
      boundEqualsCold(pa, pb, explainer(feats, cfg, Some(mllibScorer)))
      boundEqualsCold(pa, pb, explainer(feats, cfg.copy(discretize = false), Some(mllibScorer)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("a repeat request calls its scorer 0 times; a new scorer, config or schema builds its own") {
    RequestTemplate.clear(spark)
    val (a, b) = pair(feats)
    val counting = new Counting(mllibScorer)
    val cfg = LimeConfig(nSamples = 128)
    def run(inst: DataFrame, c: LimeConfig = cfg, f: Counting = counting, lattice: Boolean = true) =
      Lime.explainTabular(inst, "instance_id", feats, c, Some(f), Nil, lattice).collect()
    run(a)
    assert(counting.calls == 1)
    run(b); run(a)
    assert(counting.calls == 1, "a repeat request called the scorer")
    run(a, lattice = false)
    run(b, lattice = false)
    assert(counting.calls == 2, "the fan-out path: one call to build its template")
    val other = new Counting(mllibScorer)
    run(a, f = other)
    assert(other.calls == 1 && counting.calls == 2, "a new scorer reused another's template")
    run(a, c = cfg.copy(seed = 7))
    assert(counting.calls == 3, "a new config reused another's template")
    run(a.withColumn("l_tax", col("l_tax").cast("float")))
    assert(counting.calls == 4, "a new instance schema reused another's template")
  }

  test("a scorer whose plan reads more than its input is called per request and scores as before") {
    val (a, _) = pair(feats.take(2) ++ cats)
    val b = a.filter(col("instance_id") % 2 === 0)
    val out = java.nio.file.Files.createTempDirectory("lime-template").toString
    try {
      val s = spark
      import s.implicits._
      Seq(("R", 0.5), ("A", -0.25), ("N", 0.0)).toDF("flag", "bonus").write.parquet(s"$out/bonus")
      val table = spark.read.parquet(s"$out/bonus")
      // catScorer, then a join with a parquet table that adds nothing
      val tableScorer: DataFrame => DataFrame = { df =>
        catScorer(df).join(table, df("l_returnflag__val") === table("flag"), "left")
          .drop("flag", "bonus")
      }
      for (cfg <- Seq(LimeConfig(nSamples = 256, kFeatures = 3),
           LimeConfig(nSamples = 128, kFeatures = 3, discretize = false));
           scorer <- Seq(rddScorer, eagerScorer, tableScorer)) {
        RequestTemplate.clear(spark)
        val counting = new Counting(scorer)
        val explain = explainer(feats.take(2), cfg, Some(counting), cats)
        val reference = explainer(feats.take(2), cfg, Some(catScorer), cats)
        for (inst <- Seq(a, b, a)) {
          val got = explain(inst).collect()
          assert(got.nonEmpty && bits(got) == bits(reference(inst).collect()),
            s"${cfg.discretize}: the scorer's explanations differ from its lazy twin's")
        }
        assert(counting.calls == 3, s"${counting.calls} calls for 3 requests")
        // the plan that calls the scorer is held without a template
        val untemplated = RequestTemplate.shapes(spark) - RequestTemplate.cached(spark).size
        assert(untemplated == 1, s"$untemplated shapes without a template")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** Explains a request in a new session with an MLlib model fit in that
    * session, whose training summary (a DataFrame) reaches the session
    * from the held scoring template; returns the session, held weakly. */
  private def explainInNewSession(): java.lang.ref.WeakReference[SparkSession] = {
    val s2 = spark.newSession()
    val train = s2.range(0, 200).select((col("id") % 7).cast("double").as("a"),
      (col("id") % 5).cast("double").as("b"), (col("id") % 2).cast("double").as("label"))
    val asm = new VectorAssembler().setInputCols(Array("a", "b")).setOutputCol("features")
    val model = new Pipeline().setStages(Array(new LogisticRegression().setMaxIter(5)))
      .fit(asm.transform(train))
    val inst = s2.range(1, 9).select(col("id").as("instance_id"), (col("id") * 1.5).as("a"),
      (col("id") % 3).cast("double").as("b"))
    assert(Lime.explainTabular(inst, "instance_id", Seq("a", "b"), LimeConfig(nSamples = 64),
      Some(LimeMllib.scoreFn(model, Seq("a", "b")))).collect().nonEmpty)
    assert(RequestTemplate.cached(s2).size == 3)
    new java.lang.ref.WeakReference(s2)
  }

  test("a dropped session whose templates reach it is freed after MaxTemplates newer shapes") {
    RequestTemplate.clear(spark)
    val session = explainInNewSession()
    // two shapes (collect, lattice) per config
    val (a, _) = pair(feats)
    (1 to RequestTemplate.MaxTemplates / 2).foreach { n =>
      explainer(feats, LimeConfig(nSamples = 16, seed = n))(local(a)).collect()
    }
    val collected = (1 to 50).exists { _ =>
      System.gc(); Thread.sleep(20); session.get() == null
    }
    assert(collected, "the session outlived its last reference")
  }

  test("two bound results of one template share expression ids, join and union") {
    RequestTemplate.clear(spark)
    val (a, _) = pair(feats)
    val b = a.filter(col("instance_id") % 2 === 0)
    val explain = explainer(feats, LimeConfig(nSamples = 128), Some(mllibScorer))
    val (x, y) = (explain(a), explain(b))
    assert(x.queryExecution.analyzed.output.map(_.exprId) ==
      y.queryExecution.analyzed.output.map(_.exprId))
    val (xr, yr) = (x.collect(), y.collect())
    assert(bits(x.union(y).collect()) == bits(xr ++ yr))
    val joined = x.join(y.select(col("instance_id"), col("rank"), col("weight").as("w_b")),
      Seq("instance_id", "rank")).collect()
    assert(joined.length == yr.length && yr.length > 0)
    assert(joined.map(_.getAs[Long]("instance_id")).toSet == yr.map(_.getLong(0)).toSet)
    // and on column references, the self-join form
    assert(x.join(y, x("instance_id") === y("instance_id") && x("rank") === y("rank"))
      .count() == yr.length)
  }

  test("4 concurrent requests give the cold answer") {
    val (a, b) = pair(feats)
    val sets = Seq(a, b, a.filter(col("instance_id") % 3 =!= 0), b.filter(col("instance_id") % 2 === 1))
    val explain = explainer(feats, LimeConfig(nSamples = 256), Some(mllibScorer))
    val cold = sets.map { inst => RequestTemplate.clear(spark); bits(explain(inst).collect()) }
    RequestTemplate.clear(spark)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence(sets.map(inst =>
        Future(bits(explain(inst).collect())))), Duration(5, "min"))
      assert(got == cold, "a concurrent request differs from its cold build")
    } finally pool.shutdown()
  }

  test("the cache holds no instance row, lattice row or Lattice, and at most MaxTemplates") {
    RequestTemplate.clear(spark)
    val (a, _) = pair(feats.take(2) ++ cats)
    Lime.explainTabular(local(a), "instance_id", feats.take(2), LimeConfig(nSamples = 64),
      Some(catScorer), cats).collect()
    Lime.explainTabular(local(a), "instance_id", feats.take(2),
      LimeConfig(nSamples = 64, discretize = false), Some(catScorer), cats).collect()
    val plans = RequestTemplate.cached(spark).map(_.held)
    // the discretized request's collect, scores and lattice; the
    // continuous one's collect and fan-out
    assert(plans.size == 5, s"${plans.size} templates")
    plans.foreach { p =>
      // no relation but the empty slot, so no path to a session or a file
      p.collectLeaves() match {
        case Seq(l: LocalRelation) => assert(l.data.isEmpty, s"rows held in\n$p")
        case leaves => fail(s"leaves ${leaves.map(_.nodeName)} held in\n$p")
      }
      p.foreach(_.expressions.foreach(_.foreach {
        case b: BoundValue if b.name.nonEmpty => assert(b.value == null, s"${b.name} held in\n$p")
        case b: BoundValue => assert(!b.value.isInstanceOf[Lattice], s"a Lattice held in\n$p")
        case _ =>
      }))
    }
    // a scorer per request: each request builds its own templates, and
    // the cache stays bounded
    (0 until RequestTemplate.MaxTemplates / 2).foreach { _ =>
      val fresh: DataFrame => DataFrame = catScorer(_)
      Lime.explainTabular(local(a), "instance_id", feats.take(2), LimeConfig(nSamples = 16),
        Some(fresh), cats).collect()
    }
    assert(held <= RequestTemplate.MaxTemplates)
  }
}
