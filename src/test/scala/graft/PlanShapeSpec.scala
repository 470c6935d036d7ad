package graft

import graft.lime.{Lime, LimeMllib}
import graft.lime.Lime.LimeConfig
import graft.operators.LimeOps
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Mechanical pin of the scale-bearing plan shapes (SURVEY §2's
  * "scale notes" column, made falsifiable): for a set of flagship
  * queries with NO cached subtrees, assert the exact number of shuffle
  * and broadcast exchanges in the physical plan. A future edit that
  * silently adds a shuffle (lost map-side partial, a join that stopped
  * broadcasting, a repartition sneaking in) fails here with the plan
  * in the message — at fixture scale, before a bench ever notices.
  *
  * Counts are the AQE INITIAL plan's (deterministic at planning time);
  * runtime re-plans can only remove exchanges, not add them.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def exchanges(name: String): (Int, Int, String) = {
    // The pins assume NO cached subtrees (docstring above), but suites
    // share one session and lazy operators with a documented cache
    // retention contract (knnGraphAnn, qCorpusDatacard's docsNorm)
    // legitimately leave entries behind — a leaked InMemoryRelation
    // would replace scan subtrees and silently change the counts, so
    // every pin plans against a cleared cache. Planning-only: nothing
    // is recomputed.
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, dir)
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }.size
    val bcasts = plan.collect { case e: BroadcastExchangeLike => e }.size
    (shuffles, bcasts, plan.toString)
  }

  private def pin(name: String, wantShuffles: Int, wantBroadcasts: Int): Unit = {
    val (s, b, plan) = exchanges(name)
    assert(s == wantShuffles && b == wantBroadcasts,
      s"$name plan shape drifted: shuffles $s (want $wantShuffles), " +
        s"broadcasts $b (want $wantBroadcasts)\n$plan")
  }

  // Conventions behind the expected counts:
  //  - every oracle query ends in a deterministic output sort → one
  //    rangepartitioning shuffle is part of the floor
  //  - documents-based operators go through docsNorm's intentional
  //    repartition (the CPU-rebalance exchange, see its docstring) —
  //    that adds one more to their floor
  //  - cached subtrees (InMemoryRelation) hide their internal
  //    exchanges from the count; only the outer plan is pinned

  test("narrow projections: scan → project → output sort only") {
    // 1 = the output sort; nothing else may shuffle
    pin("q_emb_quantize", 1, 0)
    pin("q_sample_importance", 1, 0)
    pin("q_scan_prune", 1, 0)
    // + docsNorm rebalance
    pin("q_quality_c4", 2, 0)
  }

  test("single-agg shapes: one partial-agg shuffle + output sort") {
    pin("q_emb_dim_stats", 2, 0)
    pin("q_agg_hash", 2, 0)
    // global agg (no grouping keys): single exchange, no sort
    pin("q_tpch_q6", 1, 0)
  }

  test("window/event shapes: user-key exchange + output sort") {
    pin("q_ev_attribution", 2, 0)
    // hourly: (type,hour) agg + share window re-key + sort
    pin("q_ev_hourly", 3, 0)
    // retention: user window + (cohort, offset) agg + sort
    pin("q_ev_retention", 3, 0)
  }

  test("broadcast shapes: dims broadcast, fact never re-shuffled for the join") {
    // outlier: moments row broadcast onto the cached distance table
    // (the centroid broadcast lives INSIDE the cached subtree); the
    // visible shuffles are the global moments agg + the output sort
    pin("q_emb_outlier", 2, 1)
    // dedup_exact: winner table broadcast back onto the corpus
    pin("q_dedup_exact", 7, 1)
    // temperature: scalar totals row broadcast; the rest is the doc
    // rebalance + token aggs on both the per-source and total branches
    pin("q_mix_temperature", 6, 1)
    // knn: ONE broadcast of the collapsed corpus row; shuffles are the
    // corpus collect_list agg + the output sort — the "N·N work with
    // zero N²-row shuffle" claim, pinned
    pin("q_emb_knn", 2, 1)
  }

  test("kernel-scored text shapes: zero scoring joins or shuffles") {
    // langid: the LangScores kernel scores every language per doc
    // in-row against the driver-embedded term table — the visible
    // exchanges are ONLY the confusion-matrix agg + output sort (the
    // fit's exchanges live behind the cached per-doc count table);
    // crucially ZERO broadcasts: the model join this replaced is gone
    pin("q_text_langid", 2, 0)
    // perplexity: same kernel, own-language score per doc; no grouping
    // at all — output sort only
    pin("q_text_perplexity", 1, 0)
    // minhash below the gate: composes the materialized pair-graph
    // artifact — a parquet read + output sort, nothing else
    pin("q_dedup_minhash", 1, 0)
  }

  test("layout/event shapes: path assembly reuses the user exchange") {
    // sesspath: ONE user_id exchange feeds both session windows AND
    // the (user, session) collect_list aggregate (its partial/final
    // pair runs exchange-free on the user_id distribution); the only
    // other shuffle is the O(paths) count agg — top-20 is a
    // TakeOrdered, no global sort exchange
    pin("q_ev_sesspath", 2, 0)
    // ctxjoin: the interval pairing rides the user_id EQUI-join (at
    // fixture scale the filtered purchase side broadcasts; at corpus
    // scale both sides shuffle on user_id) with the hour window as a
    // post-join residual — never a time-only cross join; + output sort
    pin("q_ev_ctxjoin", 1, 1)
    // outer face: same join shape + the per-purchase rollup exchange
    pin("q_ev_ctxjoin_outer", 2, 1)
    // epochs: same O(sources) shape as temperature — doc rebalance +
    // token aggs on the per-source and total branches + one scalar
    // broadcast; allocation arithmetic adds nothing
    pin("q_mix_epochs", 6, 1)
  }

  test("join strategy triad: the shuffle_hash hint yields a ShuffledHashJoin") {
    // broadcast (q_join_bhj) and sort-merge (q_join_smj) are pinned
    // above; this pins the third strategy — both sides shuffle but
    // the filtered side BUILDS instead of sorting. A silent fallback
    // to SMJ (hint dropped, conf regression) fails here
    val (s, b, plan) = exchanges("q_join_shj")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected ShuffledHashJoin in the plan:\n${plan.take(2000)}")
    assert(s == 4 && b == 0,
      s"q_join_shj plan shape drifted: shuffles $s (want 4), broadcasts $b (want 0)")
  }

  test("corpus-statistic shapes: counts reduce once, analytics run on count tables") {
    // vocab coverage (below-gate path at fixture scale): docsNorm
    // rebalance + ONE (lang, word) count shuffle + the ranking
    // window's lang exchange + output sort; the per-lang rollup
    // reuses the window's lang partitioning. Above the 65,536-doc
    // gate the two-phase bucket top-k replaces the single window
    // (ScaleOpsSpec forces that path and pins output equality)
    pin("q_text_vocab_coverage", 4, 0)
    // KS drift: the raw table reduces in three independent partial-
    // agged shuffles (per-(source,len), per-len, per-source) + the
    // scalar total; everything after runs on the O(sources × lengths)
    // grid — the len/count sides and the total arrive as the ONLY
    // three broadcasts, and the CDF window + final rollup + output
    // sort all reuse the per-source exchange (one more shuffle)
    pin("q_stat_ks_drift", 5, 3)
    // chi2: contingency-table agg + three margin aggs (lang + total
    // margins arriving as broadcasts, observed cells broadcast-LEFT-
    // joined onto the full source×lang grid so empty cells keep their
    // (0−e)²/e terms) + the per-source rollup reusing the source-
    // margin exchange + output sort; the grid rewrite saved the old
    // shape's extra cell-table exchange (6 → 5)
    pin("q_stat_chi2", 5, 3)
    // SRM: the CACHED split census (its corpus reduction hidden) +
    // the per-source totals agg + the per-source χ² rollup + output
    // sort; the literal 3-row split-design table and the totals side
    // are the two broadcasts — empty cells enter via the grid join so
    // a catastrophic mismatch (a lost split) still registers
    pin("q_stat_srm", 2, 2)
    // bootstrap: the ×B replicate fan-out is a NARROW explode that
    // partial-aggregates to O(segments·B) weighted sums before its
    // one exchange + the per-segment percentile agg + output sort —
    // the raw table never shuffles and nothing broadcasts
    pin("q_stat_bootstrap", 3, 0)
    // mann-whitney: the CACHED per-value count table (its reduction
    // hidden behind the InMemoryRelation) + the single-partition
    // gather feeding the value-ordered rank window + the (segment,
    // value) reduction + the per-segment rank-sum agg + output sort;
    // the rank grid and the scalar totals arrive as the two
    // broadcasts — ranks are never assigned to rows, and the global
    // window's task is bounded by the VALUE RANGE, not row count
    pin("q_stat_mannwhitney", 5, 2)
    // t-test: ONE customer reduction to the per-segment decimal
    // census + output sort; the rest-side moments come from the
    // empty-partition window over the O(segments) census (never rows)
    pin("q_stat_ttest", 2, 0)
    // split census: ONE corpus reduction to the (source, split) census
    // + the per-source share window's exchange + output sort; the
    // per-source total comes from a window over the census, not a
    // join (which would re-evaluate the corpus scan)
    pin("q_sample_split", 3, 0)
  }

  test("sketch shapes: set algebra on the sketch table, never on data") {
    // theta: doc rebalance + per-source sketch agg (on each join side —
    // the one-row-per-source table is rebuilt per side at plan time;
    // the cache collapses them at execution) + the pair join's own
    // exchanges + output sort; crucially ZERO exchanges carry
    // token-level rows past the sketch agg
    val (s, b, plan) = exchanges("q_agg_theta_sets")
    assert(b <= 2, s"pair join of the 20-row sketch table should broadcast:\n$plan")
    assert(s <= 7, s"unexpected extra shuffles in the sketch pipeline:\n$plan")
  }

  test("round-9 companion shapes: covariance cells + avro round-trip") {
    // whiten-cov (r13): the covariance moments fold per-partition in
    // ONE covMoments pass (exact long/BigInteger accumulators — its
    // collect job carries no exchange at all) and the O(d²) cell table
    // is emitted from the merged moments; the only exchange left in
    // the returned plan is the output sort. The pre-r13 shape (flatV
    // self-join + pair-cell agg + margin broadcasts) was 4/3.
    pin("q_emb_whiten_cov", 1, 0)
    // avro read-back: source agg partial+final + countDistinct(lang)
    // expand + output sort; no joins — the round-trip is scan-shaped
    pin("q_src_avro", 3, 0)
  }

  test("round-10 shapes: ANN kNN graph keyed join + assignment-table kernels") {
    // earlier suites may have MATERIALIZED knn_ann's ranked/emb caches
    // (DedupEmbedSpec runs the operator): a materialized cache carries
    // row stats, the planner sees the 500-row fixture side and
    // rightly broadcasts it — a fixture-size adaptation, not the
    // at-scale shape this pin guards. Clear caches so the pin reads
    // the stats-free plan (the one a fresh 100 TB session would get).
    spark.catalog.clearCache()
    // knn_ann: the centroid broadcast and the N×k1 ranking live inside
    // the cached `ranked` subtree; the OUTER plan is the scale story —
    // the probes×assigned pair join is KEYED on the cell (one exchange
    // per side, never a broadcast of a corpus-sized side), the
    // phase-1 (src, cell) window PIGGYBACKS the join's hash(cell)
    // partitioning (a subset key satisfies the clustering — only a
    // sort is inserted, no 5th exchange), then the (src) window and
    // the output sort. A broadcast appearing here would mean a
    // corpus-sized side started broadcasting; a 5th shuffle would
    // mean the phase-1 cut stopped reusing the join exchange.
    pin("q_emb_knn_ann", 4, 0)
    // pq_codes: ONE narrow kernel pass + posexplode + output sort —
    // any join or aggregate appearing is a regression
    pin("q_emb_pq_codes", 1, 0)
    // ivf_cells (r13): the per-vector argmin runs in ONE TopCells
    // kernel eval per row against the collected O(k1) centroid model —
    // the crossJoin broadcast and the per-vector window exchange are
    // gone; only the output sort remains (pre-r13 shape: 2/1)
    pin("q_emb_ivf_cells", 1, 0)
  }

  test("round-11 shapes: cosine cell assignments") {
    spark.catalog.clearCache()
    // sim_ivf_cells (r13): the q_emb_ivf_cells shape in cosine — the
    // TopCells kernel replaces the centroid broadcast + argmax window;
    // output sort only (pre-r13 shape: 2/1)
    pin("q_sim_ivf_cells", 1, 0)
    // sim_ivf2_cells: level 1 = the ONE O(k1) broadcast cross; level 2
    // = the fine table joined KEYED on the coarse cell (never
    // broadcast whole — the composition that scales); windows for the
    // fine pick, the fine argmax, and the output sort
    val (s, b, plan) = exchanges("q_sim_ivf2_cells")
    assert(b <= 1,
      s"only the O(k1) coarse table may broadcast ($b):\n${plan.take(3000)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"the fine assignment must be a cell-KEYED join:\n${plan.take(3000)}")
    assert(s <= 6, s"unexpected extra shuffles ($s):\n${plan.take(3000)}")
  }

  test("round-11 continuation shapes: model-table reductions stay reduced") {
    // single corpus reduction + model-table windows/rollups only
    pin("q_ev_power_users", 2, 0)      // per-user agg + (ntile/rollup on users)
    pin("q_agg_trimmed", 2, 0)         // group sort window + grouped agg/sort
    pin("q_sample_neyman", 2, 0)       // O(sources) census + allocation windows
    pin("q_stat_power", 3, 0)          // (type,user) reduce + census + sort
    pin("q_agg_bitmap_distinct", 3, 0) // two bitmap agg levels + sort
    pin("q_emb_bitsketch", 1, 0)       // narrow projection + output sort only
    // model-table joins: the only broadcasts are O(1)/O(model) sides
    pin("q_ev_burst", 3, 2)            // daily reduce + rollup/sort; spine+fill bcasts
    pin("q_stat_cuped", 4, 1)          // user reduce + arm census + windows; O(1) mid
    pin("q_seg_rfm", 3, 1)             // custkey reduce + ntile sort + rollup; O(1) asof
    pin("q_ev_anomaly_mad", 5, 0)      // fill + explode aggs on the cached model table
    // r12: count(1) replaced countDistinct (provably unique per cell) —
    // the distinct-aggregate's extra exchange is gone
    pin("q_ev_cohort", 6, 2)           // (user,week) reduce + first-week/size joins
    pin("q_ev_lifecycle", 6, 4)        // keyed self-joins on the cached activity table
    pin("q_emb_bitsketch_knn", 2, 1)   // cached sketch bcast; pairs never carry vectors
    // r12: narrow perturb fan-out + ONE (instance, j, k) partial-agg
    // exchange + output sort — the O(instances·d'²) ridge shuffle bound
    pin("lime_ridge_moments", 2, 0)
  }

  test("round-12 shapes: model-table reductions stay reduced") {
    pin("q_stat_sprt", 3, 0)      // (type,day) agg + type window + sort
    // dsir: docsNorm rebalance ×2 (the token stream feeds the vocab
    // count AND the per-doc join — corpus-statistics ops rescan, the
    // tfidf precedent), word agg, O(1) totals, the word-keyed join's
    // two sides, doc agg, output sort; totals broadcast
    pin("q_sample_dsir", 8, 2)
    // recall: inherits both graphs' shapes cold — the exact baseline
    // (probe broadcast over the corpus) + the IVF build (emb cache
    // repartition, TopCells kernel assignment/probing since r13 — the
    // two assignment windows and the centroid broadcast are gone —
    // cell-keyed join) + the id-join rollup and output sort
    pin("q_emb_ann_recall", 6, 2)
  }

  test("round-14 shapes: joins folded into aggregates stay folded") {
    // q21: the culprit supplier comes out of the per-order census
    // aggregate (max(when(has_late, suppkey))) — pre-r14 this was a
    // cached pair table read twice through 4 shuffles + a sort-merge
    // semi join. Now: (order,supp) agg + order agg + TakeOrdered
    // (suppkey agg rides AQE off the order exchange at runtime);
    // broadcasts = the F-orders dim + supplier
    pin("q_tpch_q21", 3, 2)
    // cooccur: pairs expand IN-ROW from each session's sorted type
    // list — pre-r14 the self-join on (user, session) added two more
    // exchange reads; the remaining shuffles are the session window's
    // user exchange, the distinct, the per-session collect, the pair
    // agg, the per-type/total rollups and the output sort
    pin("q_ev_cooccur", 7, 3)
    // label agreement: the k=1 kernel graph (corpus collect + broadcast
    // — the q_emb_knn shape) + label join broadcasts + agg + sort;
    // pre-r14 it built the full 5-NN graph and filtered rank 1
    pin("q_emb_label_agreement", 3, 3)
    // pmi: docsNorm rebalance + ONE unigram agg + ONE bigram agg +
    // output sort; ttot/btot ride the aggregated tables as broadcasts
    // (pre-r14 ttot re-exploded the corpus for a count(1))
    pin("q_text_pmi", 4, 4)
  }

  /** A StandardScaler + LogisticRegression pipeline over the LIME
    * features, the shape of black box the benchmark explains. */
  private lazy val mllibScorer: DataFrame => DataFrame = {
    val feats = LimeOps.limeFeatures
    val li = Tables.lineitem(spark, dir).limit(2000)
      .withColumn("label", (col("l_discount") > 0.05).cast("double"))
    val asm = new VectorAssembler().setInputCols(feats.toArray).setOutputCol("features")
    val model: PipelineModel = new Pipeline().setStages(Array(
      new StandardScaler().setInputCol("features").setOutputCol("scaled"),
      new LogisticRegression().setFeaturesCol("scaled").setMaxIter(10))).fit(asm.transform(li))
    LimeMllib.scoreFn(model, feats)
  }

  private def explainInstances: DataFrame =
    LimeOps.withKey(Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 10))
      .select((Seq("instance_id") ++ LimeOps.limeFeatures).map(col): _*)

  private def explainRequest(discretize: Boolean, inst: DataFrame = explainInstances,
                             nBins: Int = 4): DataFrame =
    Lime.explainTabular(inst, "instance_id", LimeOps.limeFeatures,
      LimeConfig(nSamples = 64, discretize = discretize, nBins = nBins), Some(mllibScorer))

  private def initialPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  /** The ids of the jobs `body` runs, from a listener. */
  private def jobsOf(body: => Unit): Seq[Int] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  test("discretized explainTabular: no exchange, 0 jobs to build, at most 1 to run") {
    spark.catalog.clearCache()
    val plan = initialPlan(explainRequest(discretize = true))
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty &&
      plan.collect { case e: BroadcastExchangeLike => e }.isEmpty, s"exchange in\n$plan")
    // held in memory, the instances' stats collect runs no job either, so
    // building the request is the lattice scoring plus driver work
    val local = spark.createDataFrame(explainInstances.collect().toSeq.asJava,
      explainInstances.schema)
    var df: DataFrame = null
    val built = jobsOf { df = explainRequest(discretize = true, local) }
    assert(built.isEmpty, s"building the request ran jobs $built")
    val ran = jobsOf(df.collect())
    assert(ran.size <= 1, s"the request ran jobs $ran")
  }

  test("a repeat discretized explainTabular request: 0 jobs and 0 scoreFn calls to build, at most 1 job to run") {
    val local = spark.createDataFrame(explainInstances.collect().toSeq.asJava,
      explainInstances.schema)
    var calls = 0
    val counting: DataFrame => DataFrame = { df => calls += 1; mllibScorer(df) }
    def request(): DataFrame = Lime.explainTabular(local, "instance_id", LimeOps.limeFeatures,
      LimeConfig(nSamples = 64), Some(counting))
    request().collect()
    val first = calls
    var df: DataFrame = null
    val built = jobsOf { df = request() }
    assert(built.isEmpty, s"building the repeat request ran jobs $built")
    assert(calls == first, s"the repeat request called scoreFn ${calls - first} times")
    val ran = jobsOf(df.collect())
    assert(ran.size <= 1, s"the repeat request ran jobs $ran")
  }

  test("collecting a discretized explainTabular result runs 0 jobs: local and parquet instances") {
    // the lattice path folds, solves and ranks at build: its result is
    // a local relation of the explained rows
    val local = spark.createDataFrame(explainInstances.collect().toSeq.asJava,
      explainInstances.schema)
    for (inst <- Seq(local, explainInstances); request <- Seq("first", "repeat")) {
      val df = explainRequest(discretize = true, inst)
      var rows = 0
      val ran = jobsOf { rows = df.collect().length }
      assert(rows > 0 && ran.isEmpty, s"collecting the $request result ran jobs $ran")
    }
  }

  test("text and image explain requests: no exchange") {
    // each document or image row folds its own samples in-row
    pin("lime_explain_text", 0, 0)
    pin("lime_image", 0, 0)
  }

  test("continuous explainTabular with an MLlib scorer: one hash shuffle, no range sort, no broadcast") {
    spark.catalog.clearCache()
    val df = explainRequest(discretize = false)
    val plan = initialPlan(df)
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size == 1, s"want one shuffle, the ridge aggregate's\n$plan")
    shuffles.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.map { case a: AttributeReference => a.name; case e => e.sql } ==
          Seq("instance_id"), s"ridge shuffle keyed on ${h.expressions}\n$plan")
      case p => fail(s"ridge shuffle partitioned by $p, not a hash on instance_id\n$plan")
    }
    assert(plan.collect { case e: BroadcastExchangeLike => e }.isEmpty, s"broadcast in\n$plan")
    assert(!plan.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      s"range partitioning in\n$plan")
    // a projection each for the instance frame's two, the perturb
    // layers, the scorer's swap and restore, the kernel weight, the
    // solve-and-rank and its explode; the rest are MLlib's own transforms
    val projects = df.queryExecution.analyzed.collect { case p: Project => p }.size
    assert(projects <= 18, s"$projects Projects in the analyzed plan")
  }

  // Below the lattice gate a discretized request solves on the driver,
  // so no plan holds its solve; the discretized case runs at deciles
  // (10^4 cells), above the gate, where it keeps the fan-out.
  for (discretize <- Seq(true, false)) {
    val mode = if (discretize) "discretized" else "continuous"

    test(s"$mode explainTabular evaluates the ridge solve once per instance") {
      // an inner generator's inferred non-empty filter would sit below
      // the projection that solves, and solve a second time
      val solves = explainRequest(discretize, nBins = if (discretize) 10 else 4)
        .queryExecution.optimizedPlan.flatMap(
        _.expressions.flatMap(_.collect {
          case u: ScalaUDF if u.udfName.contains("lime_ridge_solve") => u
        }))
      assert(solves.size == 1, s"${solves.size} solve calls in the optimized plan")
    }
  }
}
