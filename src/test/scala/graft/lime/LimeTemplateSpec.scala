package graft.lime

import graft.{SparkSpec, Tables}
import graft.lime.Lime.LimeConfig
import graft.operators.LimeOps
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.attribute.NumericAttribute
import org.apache.spark.ml.feature.{GraftAssemblerShim, StandardScaler, VectorAssembler, VectorSlicer}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, GraftColumnShim, Row, SparkSession}
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
    assert(RequestTemplate.cached(s2).size == 2)
    new java.lang.ref.WeakReference(s2)
  }

  test("a dropped session whose templates reach it is freed after MaxTemplates newer shapes") {
    RequestTemplate.clear(spark)
    val session = explainInNewSession()
    // two shapes (collect, scores) per config: MaxTemplates in all
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
    // the fan-out's result is a template; the lattice path's is not
    val explain = explainer(feats, LimeConfig(nSamples = 128), Some(mllibScorer), lattice = false)
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
    // two lattice results, each a local relation of its own rows
    val lattice = explainer(feats, LimeConfig(nSamples = 128), Some(mllibScorer))
    val (p, q) = (lattice(a), lattice(b))
    val (pr, qr) = (p.collect(), q.collect())
    assert(bits(p.union(q).collect()) == bits(pr ++ qr))
    assert(p.join(q.select(col("instance_id"), col("rank"), col("weight").as("w_b")),
      Seq("instance_id", "rank")).collect().length == qr.length && qr.length > 0)
    assert(p.join(q, p("instance_id") === q("instance_id") && p("rank") === q("rank"))
      .count() == qr.length)
  }

  test("4 concurrent requests give the cold answer") {
    val cfg = LimeConfig(nSamples = 256)
    // the MLlib scorer's UDFs, the demo scorer's named values, and
    // string cells, each through one held evaluator
    for ((cols, explain) <- Seq(
         (feats, explainer(feats, cfg, Some(mllibScorer))),
         (feats, explainer(feats, cfg)),
         (feats.take(2) ++ cats, explainer(feats.take(2), cfg.copy(kFeatures = 3), Some(catScorer), cats)))) {
      val (a, b) = pair(cols)
      val sets = Seq(a, b, a.filter(col("instance_id") % 3 =!= 0), b.filter(col("instance_id") % 2 === 1))
      val cold = sets.map { inst => RequestTemplate.clear(spark); bits(explain(inst).collect()) }
      RequestTemplate.clear(spark)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        // twice: the first round may build the shape's templates
        // concurrently, the second binds into them
        for (_ <- 1 to 2) {
          val got = Await.result(Future.sequence(sets.map(inst =>
            Future(bits(explain(inst).collect())))), Duration(5, "min"))
          assert(got == cold, "a concurrent request differs from its cold build")
        }
        assert(RequestTemplate.cached(spark).exists(_.isInstanceOf[RequestTemplate.Scores]))
      } finally pool.shutdown()
    }
  }

  test("a cold request and warm requests of one shape, run concurrently, give their cold answers") {
    val explain = explainer(feats, LimeConfig(nSamples = 256), Some(mllibScorer))
    val (a, b) = pair(feats)
    val cold = Seq(a, b).map { inst => RequestTemplate.clear(spark); bits(explain(inst).collect()) }
    // a's rows, read slowly: its cold request still collects them while
    // the warm requests bind into the templates it has already held
    val slow = udf { (id: Long) => Thread.sleep(20); id >= 0 }
    val slowA = a.filter(slow(col("instance_id")))
    RequestTemplate.clear(spark)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val first = Future(bits(explain(slowA).collect()))
      while (RequestTemplate.shapes(spark) == 0 && !first.isCompleted) Thread.sleep(1)
      val warm = Seq.fill(3)(Future {
        val got = Seq.newBuilder[Seq[Seq[Any]]]
        var n = 0
        while (n < 2 || !first.isCompleted) { got += bits(explain(b).collect()); n += 1 }
        got.result()
      })
      assert(Await.result(first, Duration(5, "min")) == cold.head, "the cold request differs")
      val answers = warm.flatMap(Await.result(_, Duration(5, "min")))
      assert(answers.forall(_ == cold(1)), "a warm request differs from its cold build")
    } finally pool.shutdown()
  }

  test("the instance collect's rows equal Dataset.collect's for each id type") {
    val base = lineitems(1, 10)
    for (id <- Seq(col("instance_id"), col("instance_id").cast("int"), col("l_returnflag"),
         col("l_extendedprice").cast("decimal(12,2)"), col("l_shipdate"),
         col("l_shipdate").cast("timestamp"), col("l_linestatus").cast("binary"), array(col("l_orderkey")))) {
      val df = base.select(feats.map(col(_).cast("double")) :+ id.as("id") :+ xxhash64(lit(7), id): _*)
      val (got, want) = (GraftColumnShim.toRows(df, GraftColumnShim.collectInternal(df)).toSeq, df.collect().toSeq)
      assert(got.nonEmpty && got == want, s"${df.schema("id").dataType}: the rows differ")
    }
  }

  test("the MLlib bridge's features column is VectorAssembler's: vector and attributes") {
    val names = Seq("a", "b", "c")
    val df = spark.range(0, 40).select(col("id").as("instance_id"),
      (col("id") * 0.5).as("a"), (col("id") % 3).cast("int").as("b"), (col("id") % 5).cast("double").as("c"))
      .select(col("*"), (col("a") + 1.0).as("a__val"), (col("b") + 1).as("b__val"),
        col("c").as("c__val", NumericAttribute.defaultAttr.withName("own").withMin(0.0).toMetadata()),
        (col("instance_id") % 2).cast("double").as("label"))
    // the frame the bridge hands the model: each f__val in as f
    val swapped = df.select(col("instance_id"), col("a__val").as("a"), col("b__val").as("b"),
      col("c__val").as("c"), col("label"))
    val asm = new VectorAssembler().setInputCols(names.toArray).setOutputCol("features")
    assert(GraftAssemblerShim.metadata("features", names.map(swapped.schema(_))) ==
      asm.transform(swapped).schema("features").metadata)
    // a model that finds its features by name in the attributes
    val model = new Pipeline().setStages(Array(
      new VectorSlicer().setInputCol("features").setOutputCol("sliced").setNames(Array("c", "a")),
      new LinearRegression().setFeaturesCol("sliced").setMaxIter(5))).fit(asm.transform(swapped))
    val got = LimeMllib.scoreFn(model, names, probabilityIndex = None)(df)
      .select("instance_id", "pred").collect()
    val want = model.transform(asm.transform(swapped)).select("instance_id", "prediction").collect()
    assert(got.nonEmpty && bits(got) == bits(want), "the model scores differently through the bridge")
  }

  test("the cache holds no instance row, lattice row or Lattice, and at most MaxTemplates") {
    RequestTemplate.clear(spark)
    val (a, _) = pair(feats.take(2) ++ cats)
    Lime.explainTabular(local(a), "instance_id", feats.take(2), LimeConfig(nSamples = 64),
      Some(catScorer), cats).collect()
    Lime.explainTabular(local(a), "instance_id", feats.take(2),
      LimeConfig(nSamples = 64, discretize = false), Some(catScorer), cats).collect()
    // the demo scorer: its own scores, which read named values
    Lime.explainTabular(local(a), "instance_id", feats.take(2), LimeConfig(nSamples = 64),
      None, cats).collect()
    val parts = RequestTemplate.cached(spark)
    // the discretized requests' collect and two scores; the continuous
    // one's collect and fan-out
    assert(parts.size == 5, s"${parts.size} templates")
    val plans = parts.collect { case p: RequestTemplate.Plan => p.held }
    val evaluators = parts.collect { case e: RequestTemplate.Scores => e.held }
    assert(plans.size == 3 && evaluators.size == 2,
      s"${plans.size} plans and ${evaluators.size} evaluators")
    // an evaluator holds expressions only: no plan, so no cell row; no
    // named value (each reads its request's by name, during the
    // request); no Lattice
    evaluators.foreach { case (exprs, values) =>
      assert(values.isEmpty, s"values ${values.keys.mkString(", ")} held after the request")
      exprs.foreach(_.foreach {
        case b: BoundValue if b.name.nonEmpty => fail(s"${b.name} held in an evaluator")
        case b: BoundValue => assert(!b.value.isInstanceOf[Lattice], "a Lattice held in an evaluator")
        case p: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
          fail(s"a plan held in an evaluator: $p")
        case l: org.apache.spark.sql.catalyst.expressions.Literal =>
          assert(!l.value.isInstanceOf[org.apache.spark.sql.catalyst.InternalRow], s"a row held in $l")
        case _ =>
      })
    }
    assert(evaluators.exists(_._1.exists(_.exists(_.isInstanceOf[RequestTemplate.BoundName]))),
      "the demo scorer's evaluator reads no named value")
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

  /** Effective runs of the optimizer's local-relation rule in `body`,
    * from Catalyst's rule metering (all sessions of the JVM). */
  private def localRelationRuns(body: => Unit): Long = {
    def runs: Long = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().linesIterator
      .find(_.trim.startsWith("org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"))
      .map(_.trim.split("\\s+")).map(t => t(t.length - 3).toLong).getOrElse(0L)
    val before = runs
    body
    runs - before
  }

  test("a warm bound request's scores never reach Catalyst: no local relation is optimized") {
    val (a, b) = pair(feats)
    val out = java.nio.file.Files.createTempDirectory("lime-template").toString
    try {
      a.write.parquet(s"$out/a"); b.write.parquet(s"$out/b")
      val (pa, pb) = (spark.read.parquet(s"$out/a"), spark.read.parquet(s"$out/b"))
      for (scorer <- Seq(Some(mllibScorer), None)) {
        RequestTemplate.clear(spark)
        val explain = explainer(feats, LimeConfig(nSamples = 128), scorer)
        // the cold request scores its lattice through the optimizer
        assert(localRelationRuns(explain(pa)) > 0, "the cold request optimized no local relation")
        assert(RequestTemplate.cached(spark).exists(_.isInstanceOf[RequestTemplate.Scores]))
        var warm: DataFrame = null
        val runs = localRelationRuns { warm = explain(pb) }
        assert(runs == 0, s"the warm request's build optimized a local relation $runs times")
        RequestTemplate.clear(spark)
        assert(bits(warm.collect()) == bits(explain(pb).collect()), "a warm request differs from cold")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("a scorer plan with a non-Project node or a nondeterministic expression gets no evaluator") {
    val (a, _) = pair(feats.take(2) ++ cats)
    val b = a.filter(col("instance_id") % 2 === 0)
    val nondeterministic = udf((p: Double) => p).asNondeterministic()
    val scorers: Seq[DataFrame => DataFrame] = Seq(
      df => catScorer(df.filter(col("__cell") >= 0)),
      df => catScorer(df).withColumn("pred", col("pred") + rand(7) * 1e-9),
      df => catScorer(df).withColumn("pred", nondeterministic(col("pred"))))
    for (scorer <- scorers) {
      RequestTemplate.clear(spark)
      val explain = explainer(feats.take(2), LimeConfig(nSamples = 256, kFeatures = 3), Some(scorer), cats)
      assert(explain(a).collect().nonEmpty)
      assert(!RequestTemplate.cached(spark).exists(_.isInstanceOf[RequestTemplate.Scores]),
        "the scorer's plan got an evaluator")
      // the scores are built per request: the collect is held
      assert(RequestTemplate.shapes(spark) - RequestTemplate.cached(spark).size == 1)
      val bound = explain(b).collect()
      RequestTemplate.clear(spark)
      assert(bound.nonEmpty && bits(bound) == bits(explain(b).collect()),
        "a bound request differs from its cold build")
    }
  }
}
