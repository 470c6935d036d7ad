package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.lime.{Lime, LimeText, SpLime}
import graft.lime.Lime.LimeConfig
import graft.functions.XxSql

/** LIME query-contract wiring (SURVEY.md §2.7). Which stages carry a
  * DuckDB oracle, and why the others have none, is stated per query
  * in `registry` (its `NoOracle` reasons).
  */
object LimeOps {

  val limeFeatures: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Fitted training stats are a reusable artifact (like any fitted
    * model): compute once per table and share across the discretize /
    * score / perturb consumers instead of re-running the two stats
    * passes per query. Deterministic (decimal sums + exact
    * percentiles), so caching cannot change results.
    */
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Lime.FeatureStats]]()
  private def statsFor(s: SparkSession, dir: String): Seq[Lime.FeatureStats] =
    statsCache.computeIfAbsent(dir, d => Lime.fitStats(lineitem(s, d), limeFeatures))
  /** For benchmarking: drop fitted artifacts so a timed pass measures
    * the stats computation rather than a cache hit. */
  def clearStatsCache(): Unit = statsCache.clear()

  /** The LIME rows' lineitem instance id: (l_orderkey, l_linenumber,
    * l_partkey) packed into one long, (l_orderkey·10 + l_linenumber)·10⁶
    * + l_partkey, which the oracle SQL builds as `idSql`. It is a key of
    * the l_orderkey ≤ 20 rows at sf0.001, sf0.01 and sf0.1 (the fixture
    * repeats (l_orderkey, l_linenumber) pairs, so the id needs
    * l_partkey), and l_partkey < 10⁶ up to sf5; explainTabular rejects
    * duplicate ids, so a scale where it stops being one fails by name.
    */
  private[graft] def withKey(df: DataFrame): DataFrame =
    df.withColumn("instance_id",
      (col("l_orderkey") * 10 + col("l_linenumber")) * 1000000L + col("l_partkey"))

  private val idSql = "(l_orderkey * 10 + l_linenumber) * 1000000 + l_partkey AS instance_id"

  private def instances(s: SparkSession, dir: String, maxOrderkey: Int): DataFrame =
    withKey(lineitem(s, dir).filter(col("l_orderkey") <= maxOrderkey))
      .select((Seq("instance_id") ++ limeFeatures).map(col): _*)

  // ===== oracle-checked prefix =====

  def limeStatsFit(s: SparkSession, dir: String): DataFrame = {
    val stats = statsFor(s, dir)
    val session = s
    import session.implicits._
    stats.map(st => (st.name,
        Lime.round6(st.mean), Lime.round6(st.std),
        st.edges(0), st.edges(1), st.edges(2)))
      .toDF("feature", "mean", "std", "q1", "q2", "q3")
      .orderBy("feature")
  }

  def limeDiscretize(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val stats = statsFor(s, dir)
    stats.foldLeft(withKey(li)) { (df, st) =>
      df.withColumn(s"${st.name}_bin", Lime.binOf(col(st.name), st.edges))
    }
      .select((Seq("instance_id") ++ limeFeatures.map(_ + "_bin")).map(col): _*)
      .orderBy("instance_id")
  }

  /** Decile discretizer (public LIME `discretizer='decile'`) on one
    * feature — the nBins generalization of the quartile default.
    */
  def limeDiscretizeDecile(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    // only the edges are needed — skip fitStats' mean/std/bin passes
    val edges = Lime.exactQuantiles(li, Seq("l_extendedprice"),
      (1 until 10).map(_.toDouble / 10)).head.map(Lime.round6)
    withKey(li)
      .withColumn("l_extendedprice_bin", Lime.binOf(col("l_extendedprice"), edges))
      .select("instance_id", "l_extendedprice_bin")
      .orderBy("instance_id")
  }

  def limeScore(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val stats = statsFor(s, dir)
    withKey(li)
      .withColumn("pred", round(Lime.logisticScore(stats, limeFeatures.map(col)), 6))
      .select("instance_id", "pred")
      .orderBy("instance_id")
  }

  def limeKernel(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = emb.filter(col("vec_id") < 5).select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val d2 = aggregate(zip_with(col("pv"), col("v"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    broadcast(probes).join(emb, col("probe_id") =!= col("vec_id"))
      .withColumn("dist", round(sqrt(d2), 6))
      .withColumn("kweight", round(sqrt(exp(-d2 / lit(36.0))), 6)) // w = 0.75·√64 = 6
      .select("probe_id", "vec_id", "dist", "kweight")
      .orderBy("probe_id", "vec_id")
  }

  // ===== RNG / linear-algebra stages =====

  def limePerturb(s: SparkSession, dir: String): DataFrame = {
    val stats = statsFor(s, dir)
    val inst = instances(s, dir, 2)
    Lime.perturb(inst, "instance_id", stats, LimeConfig(nSamples = 8))
      .select((Seq("instance_id", "sample_id") ++
        limeFeatures.flatMap(f => Seq(s"${f}__bin", s"${f}__z", s"${f}__val"))).map(col): _*)
      .orderBy("instance_id", "sample_id")
  }

  /** Oracle-checked sufficient statistics of the weighted ridge
    * (`lime_ridge_moments`, r12): the ENTIRE deterministic half of
    * lime_fit_ridge — everything RidgeAggregator.reduce accumulates
    * before the (non-SQL) Cholesky solve — emitted as the upper
    * triangle of the augmented moment matrix M_jk = Σ_samples w·c_j·c_k
    * over columns c = [1, z₁..z₄, y]. M therefore contains XᵀWX
    * (j,k ≤ 4), XᵀWy (k = 5), Σw (0,0), Σwy (0,5) and Σwy² (5,5) —
    * the exact normal-equations input, hash-checked against a full
    * DuckDB replay (perturb RNG chain + stats + kernel + logistic).
    * Cross-engine firewall: w and y are 6-dp-quantized to micro-unit
    * longs per ROW (the q_emb_whiten_cov nano-unit idiom), products
    * sum exactly in DECIMAL(38,0)/HUGEINT, and the single double
    * division happens once per cell at the end. LimeSpec closes the
    * loop by solving these moments locally and matching the
    * explainTabular ridge output. Scale shape: one narrow perturb
    * fan-out, one partial-aggregated shuffle on (instance, j, k) —
    * O(instances·d'²) rows, the RidgeAggregator bound.
    */
  def limeRidgeMoments(s: SparkSession, dir: String): DataFrame = {
    val stats = statsFor(s, dir)
    momentsFrom(Lime.perturb(instances(s, dir, 2), "instance_id", stats,
      LimeConfig(nSamples = 8)), stats)
  }

  /** The moment-matrix computation on an already-perturbed frame —
    * shared between the graded query and LimeSpec's solve-and-compare
    * pin (which feeds it the exact perturb config under test).
    */
  private[graft] def momentsFrom(pert: DataFrame, stats: Seq[Lime.FeatureStats]): DataFrame = {
    val y = Lime.logisticScore(stats, limeFeatures.map(f => col(s"${f}__val")))
    val d2 = limeFeatures.map(f => lit(1.0) - col(s"${f}__z")).reduce(_ + _)
    val w = sqrt(exp(-d2 / lit(2.25))) // width = 0.75·√d' = 1.5, squared
    val rows = pert
      .withColumn("wn", round(w * lit(1e6)).cast("long"))
      .withColumn("yn", round(y * lit(1e6)).cast("long"))
    val cms: Seq[Column] = lit(1000000L) +:
      limeFeatures.map(f => (col(s"${f}__z") * lit(1e6)).cast("long")) :+ col("yn")
    val terms = for { j <- 0 to 5; k <- j to 5 } yield
      struct(lit(j).as("j"), lit(k).as("k"),
        (col("wn").cast("decimal(38,0)") * cms(j) * cms(k)).as("term"))
    rows.select(col("instance_id"), explode(array(terms.toSeq: _*)).as("m"))
      .groupBy(col("instance_id"), col("m.j").as("j"), col("m.k").as("k"))
      .agg(sum(col("m.term")).as("sm"))
      .select(col("instance_id"), col("j"), col("k"),
        round(col("sm").cast("double") / lit(1e18), 6).as("moment"))
      .orderBy("instance_id", "j", "k")
  }

  /** Oracle-checked ridge SOLVE (`lime_ridge_solve`, r12): the 5×5
    * weighted-ridge system (G + λ·diag(0,1..1)) β = b solved by an
    * UNROLLED Cholesky factorization + forward/back substitution over
    * the lime_ridge_moments matrix — closing the last gap in the LIME
    * trust chain: perturb (oracle) → moments (oracle) → solve (THIS
    * row, oracle) ≈ RidgeAggregator fit (LimeSpec, quantization
    * tolerance). The same stage program (choleskyStages) emits the
    * IDENTICAL SQL arithmetic strings to Spark and DuckDB, and since
    * +, −, ×, ÷ and SQRT are all IEEE-754 correctly rounded, equal
    * text on equal inputs is bit-identical output — the one firewall
    * the moments row already provides (its cells are hash-matched
    * 6-dp doubles). Mirrors RidgeAggregator.finish: λ = 1 skips the
    * intercept, r² = 1 − ssRes/ssTot on the unpenalized Gram,
    * local_pred = Σβ (the binary-rep prediction at the instance).
    * Scale shape: the moments aggregation (one partial-agg exchange)
    * followed by per-row O(d'³) scalar arithmetic — nothing new
    * shuffles.
    */
  def limeRidgeSolve(s: SparkSession, dir: String): DataFrame =
    ridgeSolveFrom(limeRidgeMoments(s, dir))

  private[graft] def ridgeSolveFrom(m: DataFrame): DataFrame = {
    val cells = for { j <- 0 to 5; k <- j to 5 } yield
      max(when(col("j") === j && col("k") === k, col("moment"))).as(s"m$j$k")
    val wide = m.groupBy("instance_id").agg(cells.head, cells.tail: _*)
    val staged = choleskyStages.foldLeft(wide) { (df, st) =>
      df.selectExpr("*" +: st.map { case (n, e) => s"$e AS $n" }: _*)
    }
    staged.selectExpr(solveOutputCols: _*).orderBy("instance_id")
  }

  /** The shared unrolled-Cholesky stage program (see limeRidgeSolve).
    * Each stage references only columns from earlier stages; the
    * subtraction orders inside a cell match RidgeAggregator's
    * ascending-k loops so the spec comparison is algorithm-faithful,
    * not just numerically close.
    */
  private def choleskyStages: Seq[Seq[(String, String)]] = Seq(
    // A = G + λ·diag(0,1,1,1,1) with λ = 1 (the LimeConfig default);
    // b = XᵀWy (column 5 of the moment matrix)
    Seq("a00" -> "m00", "a10" -> "m01", "a20" -> "m02", "a30" -> "m03", "a40" -> "m04",
      "a11" -> "m11 + 1.0", "a21" -> "m12", "a31" -> "m13", "a41" -> "m14",
      "a22" -> "m22 + 1.0", "a32" -> "m23", "a42" -> "m24",
      "a33" -> "m33 + 1.0", "a43" -> "m34", "a44" -> "m44 + 1.0",
      "b0" -> "m05", "b1" -> "m15", "b2" -> "m25", "b3" -> "m35", "b4" -> "m45"),
    Seq("l00" -> "SQRT(a00)"),
    Seq("l10" -> "a10 / l00", "l20" -> "a20 / l00",
      "l30" -> "a30 / l00", "l40" -> "a40 / l00"),
    Seq("l11" -> "SQRT(a11 - l10 * l10)"),
    Seq("l21" -> "(a21 - l20 * l10) / l11", "l31" -> "(a31 - l30 * l10) / l11",
      "l41" -> "(a41 - l40 * l10) / l11"),
    Seq("l22" -> "SQRT(a22 - l20 * l20 - l21 * l21)"),
    Seq("l32" -> "(a32 - l30 * l20 - l31 * l21) / l22",
      "l42" -> "(a42 - l40 * l20 - l41 * l21) / l22"),
    Seq("l33" -> "SQRT(a33 - l30 * l30 - l31 * l31 - l32 * l32)"),
    Seq("l43" -> "(a43 - l40 * l30 - l41 * l31 - l42 * l32) / l33"),
    Seq("l44" -> "SQRT(a44 - l40 * l40 - l41 * l41 - l42 * l42 - l43 * l43)"),
    // forward substitution L z = b
    Seq("z0" -> "b0 / l00"),
    Seq("z1" -> "(b1 - l10 * z0) / l11"),
    Seq("z2" -> "(b2 - l20 * z0 - l21 * z1) / l22"),
    Seq("z3" -> "(b3 - l30 * z0 - l31 * z1 - l32 * z2) / l33"),
    Seq("z4" -> "(b4 - l40 * z0 - l41 * z1 - l42 * z2 - l43 * z3) / l44"),
    // back substitution Lᵀ β = z
    Seq("bt4" -> "z4 / l44"),
    Seq("bt3" -> "(z3 - l43 * bt4) / l33"),
    Seq("bt2" -> "(z2 - l32 * bt3 - l42 * bt4) / l22"),
    Seq("bt1" -> "(z1 - l21 * bt2 - l31 * bt3 - l41 * bt4) / l11"),
    Seq("bt0" -> "(z0 - l10 * bt1 - l20 * bt2 - l30 * bt3 - l40 * bt4) / l00"),
    // weighted R² on the UNPENALIZED Gram (RidgeAggregator.solveSubset)
    Seq(
      "gb0" -> "m00 * bt0 + m01 * bt1 + m02 * bt2 + m03 * bt3 + m04 * bt4",
      "gb1" -> "m01 * bt0 + m11 * bt1 + m12 * bt2 + m13 * bt3 + m14 * bt4",
      "gb2" -> "m02 * bt0 + m12 * bt1 + m22 * bt2 + m23 * bt3 + m24 * bt4",
      "gb3" -> "m03 * bt0 + m13 * bt1 + m23 * bt2 + m33 * bt3 + m34 * bt4",
      "gb4" -> "m04 * bt0 + m14 * bt1 + m24 * bt2 + m34 * bt3 + m44 * bt4"),
    Seq(
      "btgb" -> "bt0 * gb0 + bt1 * gb1 + bt2 * gb2 + bt3 * gb3 + bt4 * gb4",
      "btb" -> "bt0 * b0 + bt1 * b1 + bt2 * b2 + bt3 * b3 + bt4 * b4"),
    Seq("ss_res" -> "m55 - 2.0 * btb + btgb",
      "ss_tot" -> "m55 - m05 * m05 / m00"))

  /** Output select list shared verbatim by both engines. */
  private def solveOutputCols: Seq[String] = Seq(
    "instance_id",
    "ROUND(bt0, 6) AS intercept",
    "ROUND(bt1, 6) AS w_l_quantity",
    "ROUND(bt2, 6) AS w_l_extendedprice",
    "ROUND(bt3, 6) AS w_l_discount",
    "ROUND(bt4, 6) AS w_l_tax",
    "ROUND(CASE WHEN ss_tot <= 0.0 THEN 1.0 ELSE 1.0 - ss_res / ss_tot END, 6) AS r2",
    "ROUND(bt0 + bt1 + bt2 + bt3 + bt4, 6) AS local_pred")

  def limeFitRidge(s: SparkSession, dir: String): DataFrame =
    Lime.explainTabular(instances(s, dir, 20), "instance_id", limeFeatures,
      LimeConfig(nSamples = 256, kFeatures = 4))

  def limeSelectTopk(s: SparkSession, dir: String): DataFrame =
    Lime.explainTabular(instances(s, dir, 20), "instance_id", limeFeatures,
      LimeConfig(nSamples = 256, kFeatures = 2))

  def limeExplainTabular(s: SparkSession, dir: String): DataFrame =
    Lime.explainTabular(instances(s, dir, 10), "instance_id", limeFeatures,
      LimeConfig(nSamples = 512, kFeatures = 4))

  /** Mixed numeric + categorical explanation: l_returnflag /
    * l_linestatus perturb by training-frequency resampling (public
    * LIME categorical semantics), scored by a closed-form logistic
    * where returnflag='R' carries the dominant signal.
    */
  def limeExplainCat(s: SparkSession, dir: String): DataFrame = {
    val numFeats = Seq("l_quantity", "l_discount")
    val catFeats = Seq("l_returnflag", "l_linestatus")
    val inst = withKey(lineitem(s, dir).filter(col("l_orderkey") <= 10))
      .select((Seq("instance_id") ++ numFeats ++ catFeats).map(col): _*)
    val stats = statsFor(s, dir).filter(st => numFeats.contains(st.name))
    val scoreFn: DataFrame => DataFrame = { df =>
      val lin = lit(0.2) +
        lit(0.6) * (col("l_quantity__val") - lit(stats(0).mean)) / lit(stats(0).std) +
        lit(-0.4) * (col("l_discount__val") - lit(stats(1).mean)) / lit(stats(1).std) +
        when(col("l_returnflag__val") === "R", 1.5).otherwise(0.0) +
        when(col("l_linestatus__val") === "F", -0.8).otherwise(0.0)
      df.withColumn("pred", lit(1.0) / (lit(1.0) + exp(-lin)))
    }
    Lime.explainTabular(inst, "instance_id", numFeats,
      LimeConfig(nSamples = 512, kFeatures = 4), Some(scoreFn), catFeats)
  }

  def limeExplainText(s: SparkSession, dir: String): DataFrame =
    LimeText.explainText(documents(s, dir).filter(col("doc_id") < 5), "doc_id", "text",
      LimeConfig(nSamples = 64, kFeatures = 10, kernelWidth = Some(25.0)))

  /** LIME image explanations over the multimodal plumbing: each probe
    * embedding serialized to its F32LE storage bytes (the qMmFeatures
    * object-store stand-in) becomes an opaque 8×8 "image" blob;
    * LimeImage decodes, grid-segments into 16 superpixels, and
    * explains the stand-in classifier. The decode step is the
    * documented pluggable seam for real codecs.
    */
  def limeExplainImage(s: SparkSession, dir: String): DataFrame = {
    val session = s
    import session.implicits._
    val images = embeddings(s, dir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val bb = java.nio.ByteBuffer.allocate(4 * v.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        v.foreach(bb.putFloat)
        (id, bb.array())
      }
      .toDF("doc_id", "payload")
    graft.lime.LimeImage.explainImage(images)
  }

  /** The one explanation matrix both SP-LIME rows consume (pick's
    * greedy coverage and the importance vector) — ONE statement of
    * the instance set and config so the two graded rows can never
    * drift apart.
    */
  private[graft] def spLimeExplanations(s: SparkSession, dir: String): DataFrame =
    Lime.explainTabular(instances(s, dir, 10), "instance_id", limeFeatures,
      LimeConfig(nSamples = 256, kFeatures = 4))

  /** Oracle-less companion to `sp_lime_pick` (`sp_lime_importance`):
    * the global feature-importance vector I_j = √(Σ_i |W_ij|) that
    * Algorithm 2 maximizes coverage of, emitted as its own graded
    * row. W is the ridge output of the RNG-driven explanation
    * pipeline, so no DuckDB twin can exist (the driver records the
    * rows-only check); LimeSpec pins determinism and I ≡ an
    * independent driver-side recomputation from the explanation
    * matrix — the hash-trust upgrade for the greedy loop's input.
    */
  def spLimeImportance(s: SparkSession, dir: String): DataFrame =
    spLimeExplanations(s, dir)
      .select(col("feature"), abs(col("weight")).as("aw"))
      .filter(col("aw") > 0)
      .groupBy("feature")
      .agg(round(sqrt(sum(col("aw"))), 6).as("importance"),
        count(lit(1)).as("n_instances"))
      .orderBy("feature")

  def spLimePick(s: SparkSession, dir: String): DataFrame =
    spLimePickGated(s, dir, wGate = 1000000)

  /** spLimePick with the W gate exposed — the bench's
    * `artifact_scale_splime` row passes 0 to time the retained
    * distributed greedy rounds.
    */
  private[graft] def spLimePickGated(s: SparkSession, dir: String,
      wGate: Int): DataFrame = {
    val expl = spLimeExplanations(s, dir)
    val picked = SpLime.pick(expl, b = 3, wGate = wGate)
    val session = s
    import session.implicits._
    picked.toDF("round", "instance_id", "gain")
      .withColumn("gain", round(col("gain"), 6))
      .orderBy("round")
  }

  // ===== oracle SQL =====

  // The xxhash64 HUGEINT-CTE replay machinery lives in
  // graft.functions.XxSql (shared with the ANN hash-pick oracles).

  /** The lime_perturb oracle: every stage of the perturb fan-out
    * replayed in DuckDB — sampling uniforms from the XxSql hash chain
    * (bit-identical to Rng.u01), bin edges from round-6 quantile_cont
    * (the lime_discretize equivalence), cumulative bin frequencies
    * from exact long counts with the same left-to-right double adds,
    * bin means from exact decimal sums (the fitStats pass-2
    * firewall), and the same reverse-fold bin pick / z flag / value
    * lookup. Seed 42 (Long) ⇒ the seed hash folds to a constant.
    */
  private def perturbOracleSql(nSamples: Int, maxOrderkey: Int): String = {
    // hashLong(42, 42) — the lit(seed) head of the counter chain,
    // constant-folded at generation time
    val seedHash = XxSql.hashLongConst(BigInt(42), BigInt(42))
    val ch = new XxSql.Chain
    val hId = ch.hashLongC("CAST(instance_id AS HUGEINT)", seedHash)
    val hSamp = ch.hashInt("CAST(sample_id AS HUGEINT)", hId)
    val feats = limeFeatures
    val uCols = feats.map(f => f -> ch.u01(ch.hashConstBytes(f.getBytes("UTF-8"), hSamp))).toMap
    val (chainCtes, lastT) = ch.ctes("base")
    def p(f: String) = f.split("_").last.take(2) // short prefix per feature
    val edgeCols = feats.map { f =>
      Seq(0.25, 0.5, 0.75).zipWithIndex.map { case (q, i) =>
        s"ROUND(quantile_cont($f, $q), 6) AS ${p(f)}_e${i + 1}"
      }.mkString(", ")
    }.mkString(",\n    ")
    def binExpr(x: String, f: String) =
      s"(CASE WHEN $x > ${p(f)}_e3 THEN 3 WHEN $x > ${p(f)}_e2 THEN 2 WHEN $x > ${p(f)}_e1 THEN 1 ELSE 0 END)"
    val binStatCols = feats.flatMap { f =>
      (0 until 4).flatMap { b =>
        Seq(
          s"CAST(SUM(CASE WHEN ${binExpr(f, f)} = $b THEN CAST($f AS DECIMAL(19,6)) END) AS DOUBLE) / GREATEST(SUM(CASE WHEN ${binExpr(f, f)} = $b THEN 1 ELSE 0 END), 1) AS ${p(f)}_bm$b",
          s"CAST(SUM(CASE WHEN ${binExpr(f, f)} = $b THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS ${p(f)}_bf$b")
      }
    }.mkString(",\n    ")
    val cumCols = feats.flatMap { f =>
      Seq(s"${p(f)}_bf0 AS ${p(f)}_c0",
        s"${p(f)}_bf0 + ${p(f)}_bf1 AS ${p(f)}_c1",
        s"(${p(f)}_bf0 + ${p(f)}_bf1) + ${p(f)}_bf2 AS ${p(f)}_c2")
    }.mkString(", ")
    val outCols = feats.map { f =>
      val u = uCols(f)
      val sbin = s"(CASE WHEN $u < ${p(f)}_c0 THEN 0 WHEN $u < ${p(f)}_c1 THEN 1 WHEN $u < ${p(f)}_c2 THEN 2 ELSE 3 END)"
      val ibin = binExpr(f, f)
      val bin = s"(CASE WHEN sample_id = 0 THEN $ibin ELSE $sbin END)"
      val bm = s"(CASE $bin WHEN 0 THEN ${p(f)}_bm0 WHEN 1 THEN ${p(f)}_bm1 WHEN 2 THEN ${p(f)}_bm2 ELSE ${p(f)}_bm3 END)"
      s"""  $bin AS ${f}__bin,
         |  CASE WHEN $bin = $ibin THEN 1.0 ELSE 0.0 END AS ${f}__z,
         |  CASE WHEN sample_id = 0 THEN $f ELSE $bm END AS ${f}__val""".stripMargin
    }.mkString(",\n")
    s"""WITH inst AS (
       |  SELECT $idSql,
       |    ${feats.mkString(", ")}
       |  FROM lineitem WHERE l_orderkey <= $maxOrderkey
       |),
       |base AS (
       |  SELECT inst.*, s.sample_id
       |  FROM inst CROSS JOIN (SELECT unnest(generate_series(0, ${nSamples - 1})) AS sample_id) s
       |),
       |q AS (
       |  SELECT
       |    $edgeCols
       |  FROM lineitem
       |),
       |bs AS (
       |  SELECT
       |    $binStatCols
       |  FROM lineitem CROSS JOIN q
       |),
       |bs2 AS (SELECT *, $cumCols FROM bs),
       |$chainCtes
       |SELECT instance_id, sample_id,
       |$outCols
       |FROM $lastT CROSS JOIN q CROSS JOIN bs2
       |ORDER BY instance_id, sample_id""".stripMargin
  }

  /** The lime_score stats CTE body (exact-decimal mean/std per
    * feature) — shared verbatim with the ridge-moments oracle so the
    * two rows can never drift.
    */
  private def scoreStatsBody: String = {
    def one(f: String, m: String, sd: String) =
      s"""CAST(SUM(CAST($f AS DECIMAL(19,6))) AS DOUBLE) / COUNT(*) AS $m,
         |    GREATEST(SQRT(GREATEST((CAST(SUM(CAST($f AS DECIMAL(19,6)) * CAST($f AS DECIMAL(19,6))) AS DOUBLE) - CAST(SUM(CAST($f AS DECIMAL(19,6))) AS DOUBLE) * CAST(SUM(CAST($f AS DECIMAL(19,6))) AS DOUBLE) / COUNT(*)) / (COUNT(*) - 1.0), 0.0)), 1e-12) AS $sd""".stripMargin
    s"""
       |  SELECT
       |    ${one("l_quantity", "mq", "sq")},
       |    ${one("l_extendedprice", "me", "se")},
       |    ${one("l_discount", "md", "sd")},
       |    ${one("l_tax", "mt", "st_")}
       |  FROM lineitem
       |""".stripMargin
  }

  /** The demo-logistic linear form over four value expressions, in
    * logisticScore's exact left-to-right add order.
    */
  private def scoreLin(vq: String, ve: String, vd: String, vt: String): String =
    s"0.1 + 0.8 * ($vq - mq) / sq + -0.5 * ($ve - me) / se + 1.2 * ($vd - md) / sd + -0.7 * ($vt - mt) / st_"

  /** The lime_ridge_moments oracle: the lime_perturb replay wrapped as
    * a CTE, then per row the SAME micro-unit quantization of the
    * kernel weight and logistic prediction as momentsFrom, exact
    * HUGEINT sums over the (j, k) spine, one double division per cell.
    */
  private def ridgeMomentsOracleSql(nSamples: Int, maxOrderkey: Int): String = {
    val pert = perturbOracleSql(nSamples, maxOrderkey)
    // the replay's only ORDER BY is the trailing output sort
    val core = pert.substring(0, pert.lastIndexOf("\nORDER BY"))
    val zsum = limeFeatures.map(f => s"(1.0 - ${f}__z)").mkString(" + ")
    val lin = scoreLin("l_quantity__val", "l_extendedprice__val",
      "l_discount__val", "l_tax__val")
    val zc = limeFeatures.zipWithIndex.map { case (f, i) =>
      s"CAST(${f}__z * 1000000 AS BIGINT) AS c${i + 1}" }.mkString(",\n    ")
    val caseC = "CASE %s WHEN 0 THEN 1000000 WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 WHEN 4 THEN c4 ELSE yn END"
    s"""WITH pert AS (
       |$core
       |),
       |st AS ($scoreStatsBody),
       |wy AS (
       |  SELECT instance_id,
       |    CAST(ROUND(SQRT(EXP(-($zsum) / 2.25)) * 1000000.0) AS BIGINT) AS wn,
       |    CAST(ROUND((1.0 / (1.0 + EXP(-($lin)))) * 1000000.0) AS BIGINT) AS yn,
       |    $zc
       |  FROM pert CROSS JOIN st
       |),
       |jk AS (
       |  SELECT j, k
       |  FROM (SELECT unnest(generate_series(0, 5)) AS j),
       |       (SELECT unnest(generate_series(0, 5)) AS k)
       |  WHERE k >= j
       |)
       |SELECT instance_id, CAST(j AS INT) AS j, CAST(k AS INT) AS k,
       |  ROUND(CAST(SUM(CAST(wn AS HUGEINT) *
       |    (${caseC.format("j")}) *
       |    (${caseC.format("k")})) AS DOUBLE) / 1e18, 6) AS moment
       |FROM wy CROSS JOIN jk
       |GROUP BY instance_id, j, k
       |ORDER BY instance_id, j, k""".stripMargin
  }

  /** The lime_ridge_solve oracle: the full moments replay as a CTE,
    * the same 21-cell pivot, then the choleskyStages program emitted
    * verbatim as chained CTEs — identical arithmetic text to the
    * Spark side, hence bit-identical doubles (see limeRidgeSolve).
    */
  private def ridgeSolveOracleSql(nSamples: Int, maxOrderkey: Int): String = {
    val momentsSql = ridgeMomentsOracleSql(nSamples, maxOrderkey)
    val core = momentsSql.substring(0, momentsSql.lastIndexOf("\nORDER BY"))
    val cellSelect = (for { j <- 0 to 5; k <- j to 5 } yield
      s"MAX(CASE WHEN j = $j AND k = $k THEN moment END) AS m$j$k").mkString(",\n    ")
    val stageCtes = choleskyStages.zipWithIndex.map { case (st, i) =>
      val prev = if (i == 0) "wide" else s"s$i"
      s"s${i + 1} AS (SELECT *, ${st.map { case (n, e) => s"$e AS $n" }.mkString(", ")} FROM $prev)"
    }.mkString(",\n")
    s"""WITH mom AS (
       |$core
       |),
       |wide AS (
       |  SELECT instance_id,
       |    $cellSelect
       |  FROM mom GROUP BY instance_id
       |),
       |$stageCtes
       |SELECT ${solveOutputCols.mkString(",\n  ")}
       |FROM s${choleskyStages.length}
       |ORDER BY instance_id""".stripMargin
  }

  private def statsCte = {
    def one(f: String) =
      s"""SELECT '$f' AS feature,
         |  ROUND(CAST(SUM(CAST($f AS DECIMAL(19,6))) AS DOUBLE) / COUNT(*), 6) AS mean,
         |  ROUND(CASE WHEN COUNT(*) < 2 THEN 1e-12
         |    ELSE GREATEST(SQRT(GREATEST((CAST(SUM(CAST($f AS DECIMAL(19,6)) * CAST($f AS DECIMAL(19,6))) AS DOUBLE)
         |    - CAST(SUM(CAST($f AS DECIMAL(19,6))) AS DOUBLE) * CAST(SUM(CAST($f AS DECIMAL(19,6))) AS DOUBLE) / COUNT(*))
         |    / (COUNT(*) - 1.0), 0.0)), 1e-12) END, 6) AS std,
         |  ROUND(quantile_cont($f, 0.25), 6) AS q1,
         |  ROUND(quantile_cont($f, 0.5), 6) AS q2,
         |  ROUND(quantile_cont($f, 0.75), 6) AS q3
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(one).mkString("\nUNION ALL\n")
  }

  /** This module's queries, each with its oracle (see [[Query]]). */
  val registry: Seq[Query] = Seq(
    Query("lime_stats_fit", limeStatsFit, Sql(s"SELECT * FROM (\n$statsCte\n) ORDER BY feature")),
    Query("lime_discretize", limeDiscretize, Sql(
      s"""WITH q AS (
        |  SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS qq1, ROUND(quantile_cont(l_quantity, 0.5), 6) AS qq2, ROUND(quantile_cont(l_quantity, 0.75), 6) AS qq3,
        |         ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS eq1, ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS eq2, ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS eq3,
        |         ROUND(quantile_cont(l_discount, 0.25), 6) AS dq1, ROUND(quantile_cont(l_discount, 0.5), 6) AS dq2, ROUND(quantile_cont(l_discount, 0.75), 6) AS dq3,
        |         ROUND(quantile_cont(l_tax, 0.25), 6) AS tq1, ROUND(quantile_cont(l_tax, 0.5), 6) AS tq2, ROUND(quantile_cont(l_tax, 0.75), 6) AS tq3
        |  FROM lineitem
        |)
        |SELECT $idSql,
        |  CASE WHEN l_quantity > qq3 THEN 3 WHEN l_quantity > qq2 THEN 2 WHEN l_quantity > qq1 THEN 1 ELSE 0 END AS l_quantity_bin,
        |  CASE WHEN l_extendedprice > eq3 THEN 3 WHEN l_extendedprice > eq2 THEN 2 WHEN l_extendedprice > eq1 THEN 1 ELSE 0 END AS l_extendedprice_bin,
        |  CASE WHEN l_discount > dq3 THEN 3 WHEN l_discount > dq2 THEN 2 WHEN l_discount > dq1 THEN 1 ELSE 0 END AS l_discount_bin,
        |  CASE WHEN l_tax > tq3 THEN 3 WHEN l_tax > tq2 THEN 2 WHEN l_tax > tq1 THEN 1 ELSE 0 END AS l_tax_bin
        |FROM lineitem, q ORDER BY instance_id""".stripMargin)),
    Query("lime_discretize_decile", limeDiscretizeDecile, Sql {
      val edges = (1 to 9).map(i =>
        s"ROUND(quantile_cont(l_extendedprice, 0.$i), 6) AS e$i").mkString(", ")
      val chain = (9 to 1 by -1).map(i =>
        s"WHEN l_extendedprice > e$i THEN $i").mkString(" ")
      s"""WITH q AS (SELECT $edges FROM lineitem)
         |SELECT $idSql,
         |  CASE $chain ELSE 0 END AS l_extendedprice_bin
         |FROM lineitem, q ORDER BY instance_id""".stripMargin
    }),
    // Full RNG replay — see perturbOracleSql / XxSql scaladoc.
    Query("lime_perturb", limePerturb, Sql(perturbOracleSql(8, 2))),
    Query("lime_score", limeScore, Sql(
      s"""WITH st AS ($scoreStatsBody)
         |SELECT $idSql,
         |  ROUND(1.0 / (1.0 + EXP(-(${scoreLin("l_quantity", "l_extendedprice", "l_discount", "l_tax")}))), 6) AS pred
         |FROM lineitem, st ORDER BY instance_id""".stripMargin)),
    // Full RNG + kernel + logistic replay closing over the moment
    // matrix — see ridgeMomentsOracleSql / momentsFrom scaladoc.
    Query("lime_ridge_moments", limeRidgeMoments, Sql(ridgeMomentsOracleSql(8, 2))),
    // Unrolled Cholesky over the moments replay — see ridgeSolveOracleSql.
    Query("lime_ridge_solve", limeRidgeSolve, Sql(ridgeSolveOracleSql(8, 2))),
    Query("lime_kernel", limeKernel, Sql(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT p.vec_id AS probe_id, b.vec_id AS vec_id,
        |  ROUND(SQRT(list_sum(list_transform(generate_series(1, 64), i -> (p.e[i] - b.e[i]) * (p.e[i] - b.e[i])))), 6) AS dist,
        |  ROUND(SQRT(EXP(-list_sum(list_transform(generate_series(1, 64), i -> (p.e[i] - b.e[i]) * (p.e[i] - b.e[i]))) / 36.0)), 6) AS kweight
        |FROM v p JOIN v b ON p.vec_id < 5 AND b.vec_id <> p.vec_id
        |ORDER BY probe_id, b.vec_id""".stripMargin)),
    Query("lime_fit_ridge", limeFitRidge,
      NoOracle("in-row ridge solves over 256 RNG samples; the d = 4 solve is checked as lime_ridge_solve")),
    Query("lime_select_topk", limeSelectTopk,
      NoOracle("ranks the in-row ridge weights (k = 2); the d = 4 solve is checked as lime_ridge_solve")),
    Query("lime_explain_tabular", limeExplainTabular,
      NoOracle("in-row ridge solves over RNG samples; LimeSpec: deterministic, sensible surrogate")),
    Query("lime_explain_cat", limeExplainCat,
      NoOracle("in-row ridge solves over categorical resamples; LimeSpec grades the returnflag weight")),
    Query("lime_explain_text", limeExplainText,
      NoOracle("in-row ridge solves over word masks; LimeSpec: equals a local RidgeAggregator recompute")),
    Query("lime_image", limeExplainImage,
      NoOracle("in-row ridge solves over superpixel masks; LimeSpec: equals a local RidgeAggregator recompute")),
    Query("sp_lime_pick", spLimePick,
      NoOracle("greedy pick over in-row ridge weights; LimeSpec: distinct picks, non-increasing gains")),
    Query("sp_lime_importance", spLimeImportance,
      NoOracle("sqrt-sum over in-row ridge weights; LimeSpec: equals a driver recomputation"))
  )
}
