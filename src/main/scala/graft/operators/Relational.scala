package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Relational query surface (SURVEY.md §2.1–§2.6).
  *
  * Every builder is a pure DataFrame composition: Catalyst handles
  * predicate pushdown, column pruning, join selection and partial
  * aggregation. Oracle-checked queries follow the §7.4 playbook:
  * total-order ORDER BY, DECIMAL casts on inputs (never on double
  * products — per-row rounding differs across engines), explicit
  * aliases matching the DuckDB SQL.
  */
object Relational {

  /** Money firewall: exact decimal so sum order can't change results. */
  private val D = "decimal(18,2)"
  private def d2(c: Column): Column = c.cast(D)

  /** Output firewall: every decimal-typed column is cast to DOUBLE in
    * the FINAL select (and the oracle SQL does the same). The driver's
    * compare is string-format-sensitive — Spark's parquet Decimal keeps
    * trailing zeros ("508966.00") while DuckDB's .df() renders decimals
    * as float64 ("508966.0") — so decimal types must never escape a
    * query. The aggregation itself stays exact decimal; only the
    * representation of the final value changes (cast is correctly
    * rounded and identical in both engines).
    */
  private def outD(c: Column): Column = c.cast("double")

  // ===== §2.1 scans =====

  def qScanParquet(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).orderBy("l_orderkey", "l_linenumber")

  def qScanPrune(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") >= dateLit("1997-01-01") &&
              col("l_shipdate") <  dateLit("1998-01-01"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  // ===== §2.2 filter / project =====

  def qFilterPred(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .filter(col("o_orderdate") >= dateLit("1996-01-01") &&
              col("o_orderdate") <  dateLit("1997-01-01") &&
              (col("o_orderpriority").like("1%") || col("o_orderpriority").like("2%")) &&
              col("o_orderstatus").isin("F", "O") &&
              (col("o_totalprice") > 50000 || col("o_orderstatus") <=> "F"))
      .orderBy("o_orderkey")

  def qProjectExpr(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        outD(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).as("net_price"),
        outD(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))) * (lit(1) + d2(col("l_tax")))).as("charged"),
        when(col("l_quantity") >= 30, "BULK")
          .when(col("l_quantity") >= 10, "MEDIUM")
          .otherwise("SMALL").as("qty_band"))
      .orderBy("l_orderkey", "l_linenumber")

  // ===== §2.3 joins =====

  def qJoinBhj(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_brand", "s_name")
      .agg(
        outD(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand", "s_name")

  def qJoinSmj(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).hint("merge")
      .join(lineitem(s, dir).hint("merge"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        outD(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))).as("revenue"))
      .orderBy("o_orderpriority")

  /** Shuffled hash join — the third fact-fact join strategy after
    * broadcast (q_join_bhj) and sort-merge (q_join_smj): both sides
    * shuffle on the key but the smaller side BUILDS A HASH MAP
    * instead of sorting, skipping both sides' sorts — the right
    * choice when one side is much smaller than the other yet too big
    * to broadcast (at 100 TB: a pruned fact against the full fact).
    * Per-partition build memory is bounded by the smaller side's
    * partition size — the shuffle partitioning knob, not a broadcast
    * budget. PlanShapeSpec pins the ShuffledHashJoin node so a silent
    * fallback to SMJ fails the suite.
    */
  def qJoinShj(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .filter(col("o_orderstatus") === "F").hint("shuffle_hash")
      .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus", "l_linestatus")
      .agg(
        count(lit(1)).as("n_lines"),
        outD(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))).as("revenue"))
      .orderBy("o_orderstatus", "l_linestatus")

  def qJoinOuter(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        outD(coalesce(sum(d2(col("o_totalprice"))), lit(0).cast(D))).as("total_spent"))
      .orderBy("c_custkey")

  /** Full outer join with exclusive keys on BOTH sides: per-customer
    * 1995 vs 1996 order activity (customers active in only one year
    * produce a null side each way).
    */
  def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    def yearAgg(y: Int, pfx: String) =
      o.filter(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey").as(s"${pfx}_custkey"))
        .agg(count(lit(1)).as(s"${pfx}_orders"),
             outD(sum(d2(col("o_totalprice")))).as(s"${pfx}_spent"))
    yearAgg(1995, "a").join(yearAgg(1996, "b"),
        col("a_custkey") === col("b_custkey"), "full")
      .select(coalesce(col("a_custkey"), col("b_custkey")).as("custkey"),
        coalesce(col("a_orders"), lit(0L)).as("orders_1995"),
        coalesce(col("a_spent"), lit(0.0)).as("spent_1995"),
        coalesce(col("b_orders"), lit(0L)).as("orders_1996"),
        coalesce(col("b_spent"), lit(0.0)).as("spent_1996"))
      .orderBy("custkey")
  }

  def qJoinSemi(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  def qJoinAnti(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .join(lineitem(s, dir), col("p_partkey") === col("l_partkey"), "left_anti")
      .select("p_partkey", "p_name", "p_brand")
      .orderBy("p_partkey")

  def qJoinThetaRange(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"), col("ts").as("a_ts"))
    val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"), col("ts").as("b_ts"))
    a.join(b, col("a_user") === col("b_user") &&
              col("b_ts") > col("a_ts") &&
              col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("a_id"), col("b_id"),
              (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
      .orderBy("a_id", "b_id")
  }

  /** Skew-salted variant of qJoinThetaRange's self-join for a hot
    * user_id — the salting recipe of qAggSalted applied to a JOIN:
    * the left side gets a deterministic per-ROW salt (hash of its
    * event_id), the right side is replicated once per salt value, and
    * the join key becomes (user_id, salt). A key with n rows then
    * lands as n/S left rows per partition instead of n (the output
    * pair count is unchanged — that is inherent to the query — but no
    * single task holds the whole hot key's build side, which is what
    * OOMs/stragglers at scale; AQE's skew-join split is the automatic
    * form of the same rewrite). Results are identical to the unsalted
    * join — ScaleOpsSpec proves both equality and the per-key spread
    * on a synthetic hot key.
    */
  private[graft] def thetaRangeSalted(e: DataFrame, salts: Int): DataFrame = {
    val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withColumn("salt", pmod(xxhash64(col("a_id")), lit(salts)).cast("int"))
    val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"), col("ts").as("b_ts"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    a.join(b, col("a_user") === col("b_user") &&
              a("salt") === b("salt") &&
              col("b_ts") > col("a_ts") &&
              col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("a_id"), col("b_id"),
              (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
  }

  /** As-of join via the union+last-non-null trick: one shuffle on
    * user_id, no join blowup — the 100 TB-scalable as-of shape. */
  def qJoinAsof(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
              when(col("event_type") === "view", lit(0)).otherwise(lit(1)).as("prio"),
              when(col("event_type") === "view", col("event_id")).as("view_id"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("prio"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("last_view_id").as("prior_view_id"))
      .orderBy("purchase_id")
  }

  /** As-of join with a match TOLERANCE (`q_join_asof_tol`, r11) —
    * pandas merge_asof(tolerance=...) / kdb wj semantics: each
    * purchase matches the user's most recent prior view ONLY if it is
    * within 1 hour; staler views (and users with no view) yield an
    * explicit null + matched = false, so downstream attribution can
    * distinguish "old context" from "no context" instead of silently
    * crediting a days-old view. Same 100 TB shape as q_join_asof: ONE
    * user_id exchange, the running last-non-null window carrying
    * (view id, view ts), no self-join, no event×event blowup; the
    * tolerance is a per-row filter on the carried timestamp.
    */
  def qJoinAsofTol(s: SparkSession, dir: String): DataFrame = {
    val tolUs = 3600L * 1000000
    val e = events(s, dir).filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
              when(col("event_type") === "view", lit(0)).otherwise(lit(1)).as("prio"),
              when(col("event_type") === "view", col("event_id")).as("view_id"),
              when(col("event_type") === "view", col("ts")).as("view_ts"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("prio"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .withColumn("last_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap0", unix_micros(col("ts")) - unix_micros(col("last_view_ts")))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("gap0") <= tolUs, col("last_view_id")).as("prior_view_id"),
        when(col("gap0") <= tolUs, col("gap0")).as("gap_us"),
        coalesce(col("gap0") <= tolUs, lit(false)).as("matched"))
      .orderBy("purchase_id")
  }

  /** FORWARD as-of join (`q_join_asof_fwd`) — the mirror face of
    * q_join_asof: each purchase matched to the user's NEXT view
    * strictly after it (the "what did they look at after converting"
    * feed; kdb's aj with reversed time, pandas merge_asof
    * direction='forward'). The prio ordering makes the two faces
    * complementary: a view sharing the purchase's timestamp sorts
    * BEFORE it, so it belongs to the backward match and the forward
    * face picks strictly-later views only. Same single user_id
    * exchange + one running-first window — no self-join, no
    * event×event blowup at any scale.
    */
  def qJoinAsofFwd(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
              when(col("event_type") === "view", lit(0)).otherwise(lit(1)).as("prio"),
              when(col("event_type") === "view", col("event_id")).as("view_id"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("prio"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    e.withColumn("next_view_id", first(col("view_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("next_view_id"))
      .orderBy("purchase_id")
  }

  def qJoinCrossTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (a, b) => a * b), lit(0.0), (acc, z) => acc + z)
    val scored = broadcast(probes).join(emb, col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dot(col("pv"), col("v")) /
          (sqrt(dot(col("pv"), col("pv"))) * sqrt(dot(col("v"), col("v")))), 6).as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .orderBy("probe_id", "rnk")
  }

  // ===== §2.4 aggregations =====

  def qAggHash(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") <= dateLit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        outD(sum(d2(col("l_quantity")))).as("sum_qty"),
        outD(sum(d2(col("l_extendedprice")))).as("sum_base_price"),
        outD(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))).as("sum_disc_price"),
        outD(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))) * (lit(1) + d2(col("l_tax"))))).as("sum_charge"),
        round(sum(d2(col("l_quantity"))).cast("double") / count(lit(1)), 6).as("avg_qty"),
        round(sum(d2(col("l_extendedprice"))).cast("double") / count(lit(1)), 6).as("avg_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  def qAggDistinct(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .groupBy("c_mktsegment")
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"),
        countDistinct(col("c_nationkey"), col("c_mktsegment")).as("n_nation_seg"))
      .orderBy("c_mktsegment")

  /** HLL approximate distinct — no oracle (impl-specific estimates). */
  def qAggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy("event_type")

  /** Mergeable DataSketches HLL: per-type estimates plus the SAME
    * estimate reassembled by merging per-day partial sketches —
    * demonstrating the property that matters at 100 TB: partials
    * built independently (per partition / per day / per cluster)
    * union into the global sketch without re-reading data. No oracle
    * (sketch internals are impl-specific); the spec checks merged ==
    * direct and both within HLL error of exact.
    */
  def qAggHllSketch(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val direct = e.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct_est"))
    val merged = e
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("day_sketch"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("day_sketch"))).as("merged_est"))
    direct.join(merged, "event_type")
      .select("event_type", "direct_est", "merged_est")
      .orderBy("event_type")
  }

  /** Greenwald-Khanna approximate quantiles — the sketch companion to
    * the exact sort-based `percentile` (constant memory per group at
    * any scale). No oracle (sketch estimates are impl-specific); the
    * spec grades each estimate against the exact percentile within
    * the declared relative error.
    */
  def qAggApproxQuantile(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 100)").as("q"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("q"), 1).as("q1_approx"),
        element_at(col("q"), 2).as("q2_approx"),
        element_at(col("q"), 3).as("q3_approx"),
        col("n"))
      .orderBy("l_returnflag")

  def qAggRollup(s: SparkSession, dir: String): DataFrame = {
    // rollup-after-join trips DetectAmbiguousSelfJoin's false positive
    // (Expand duplicates dataset-tagged grouping attrs); the check has
    // no per-plan opt-out, so disable it just for plan construction and
    // restore the session's previous value afterwards.
    val key = "spark.sql.analyzer.failAmbiguousSelfJoin"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try {
      val j = customer(s, dir)
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("c_acctbal"))
      val g = j.rollup("r_name", "n_name")
        .agg(outD(sum(d2(col("c_acctbal")))).as("sum_bal"), count(lit(1)).as("n_cust"))
      g.select(coalesce(g("r_name"), lit("ALL")).as("region_name"),
               coalesce(g("n_name"), lit("ALL")).as("nation_name"),
               g("sum_bal"), g("n_cust"))
        .orderBy("region_name", "nation_name")
    } finally s.conf.set(key, prev)
  }

  /** Correlated scalar subquery through the SQL entry point —
    * Catalyst decorrelates it into a left outer aggregate join
    * (RewriteCorrelatedScalarSubquery), so no per-row execution.
    */
  def qExprScalarSubq(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("orders_sq")
    lineitem(s, dir).createOrReplaceTempView("lineitem_sq")
    s.sql("""
      SELECT o_orderkey, o_totalprice AS total_price,
             (SELECT MAX(l_extendedprice)
              FROM lineitem_sq WHERE l_orderkey = o_orderkey) AS max_item_price
      FROM orders_sq
      ORDER BY o_orderkey""")
  }

  /** Explicit GROUPING SETS with grouping() flags, through the SQL
    * entry point (rollup/cube cover the DataFrame route).
    */
  def qAggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
    s.sql("""
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             COALESCE(l_linestatus, 'ALL') AS linestatus,
             grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             COUNT(*) AS n_rows
      FROM lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY returnflag, linestatus, g_rf, g_ls""")
  }

  def qAggCube(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(outD(sum(d2(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("n_rows"))
      .orderBy("returnflag", "linestatus")

  /** Deterministic stddev: exact decimal sum/sumsq, one double sqrt at
    * the end — no accumulation-order float drift (LIME stats pass). */
  /** Welch's two-sample t statistic of each market segment's account
    * balances against the rest of the customers — the experiment-
    * readout primitive (segment vs control mean difference in units
    * of pooled standard error), with the |t| > 1.96 two-sided 5%
    * decision. ONE partial-agged shuffle reduces customers to the
    * O(segments) census of exact decimal (n, Σx, Σx²); the rest-side
    * moments are decimal SUBTRACTIONS from the windowed totals (no
    * second scan — the q_sample_split window rule), and every double
    * expression is structurally identical in the oracle so the
    * statistic hash-matches. The empty window partition holds only
    * the segment census (O(segments) rows, never customers).
    */
  def qStatTtest(s: SparkSession, dir: String): DataFrame = {
    val x = d2(col("c_acctbal"))
    val census = customer(s, dir).groupBy("c_mktsegment").agg(
      count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
    val w = Window.partitionBy()
    val withTot = census
      .withColumn("nn", sum(col("n")).over(w))
      .withColumn("tsx", sum(col("sx")).over(w))
      .withColumn("tsxx", sum(col("sxx")).over(w))
      .withColumn("n2", col("nn") - col("n"))
      .withColumn("s2", col("tsx") - col("sx"))
      .withColumn("ss2", col("tsxx") - col("sxx"))
    val m1 = col("sx").cast("double") / col("n")
    val m2 = col("s2").cast("double") / col("n2")
    val v1 = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / col("n")) /
      (col("n") - lit(1.0))
    val v2 = (col("ss2").cast("double") -
      col("s2").cast("double") * col("s2").cast("double") / col("n2")) /
      (col("n2") - lit(1.0))
    withTot
      .withColumn("t_stat",
        round((m1 - m2) / sqrt(v1 / col("n") + v2 / col("n2")), 6))
      .select(col("c_mktsegment"), col("n").as("n_seg"),
        round(m1, 6).as("mean_seg"), round(m2, 6).as("mean_rest"),
        col("t_stat"),
        (abs(col("t_stat")) > lit(1.96)).as("significant"))
      .orderBy("c_mktsegment")
  }

  /** Rank-trimmed robust mean (`q_agg_trimmed`, r11): per return
    * flag, the mean of l_extendedprice after dropping the lowest and
    * highest 5% of rows BY RANK (k = n·5 div 100 from each end, exact
    * integer cutoffs — no percentile interpolation anywhere, so the
    * trim boundary is engine-portable by construction, unlike a
    * p05/p95 winsorize whose interpolated bound is an IEEE product).
    * The deterministic (price, orderkey, linenumber) tie-break makes
    * the kept SET identical in both engines even with duplicate
    * prices. Scale shape: at or below the ScaleOps.SortWindowGate
    * footer count, one per-group sort (the window exchange) ranks
    * each return flag's rows in a single task — fine for a 3-group
    * table that fits the gate; above it the IDENTICAL (rn, n) pair
    * comes from ScaleOps.distributedRank grouped on l_returnflag, so
    * no task ever sorts a whole flag's rows (forced ≡-pinned in
    * ScaleOpsSpec). Conditional sums in the SAME grouped pass give
    * raw and trimmed moments either way — the trim stays exact rank
    * arithmetic at every scale, never approx-quantile drift.
    */
  def qAggTrimmed(s: SparkSession, dir: String): DataFrame =
    aggTrimmedFrom(lineitem(s, dir),
      scalePath = LlmData.parquetRowCount(s, s"$dir/lineitem.parquet") > ScaleOps.SortWindowGate)

  /** qAggTrimmed with the path gate exposed so the forced-scale spec
    * can pin scale ≡ exact on the same input.
    */
  private[graft] def aggTrimmedFrom(li: DataFrame, scalePath: Boolean): DataFrame = {
    val base = li.select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"))
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val x = d2(col("l_extendedprice"))
    val ranked =
      if (!scalePath) {
        val grp = Window.partitionBy("l_returnflag")
        base.withColumn("rn", row_number().over(grp.orderBy(order: _*)).cast("long"))
          .withColumn("n", count(lit(1)).over(grp))
      } else {
        ScaleOps.distributedRank(base, Seq("l_returnflag"), order, "rn", "n")
      }
    ranked
      .withColumn("k", expr("n * 5 div 100"))
      .withColumn("kept", col("rn") > col("k") && col("rn") <= col("n") - col("k"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(x).as("sx"), sum(when(col("kept"), x).otherwise(d2(lit(0)))).as("sxk"))
      .select(col("l_returnflag"), col("n_total"), col("n_kept"),
        round(col("sx").cast("double") / col("n_total"), 6).as("raw_mean"),
        round(col("sxk").cast("double") / col("n_kept"), 6).as("trimmed_mean"))
      .orderBy("l_returnflag")
  }

  /** RFM customer segmentation (`q_seg_rfm`, r11): every customer
    * scored into quartiles on Recency (days since last order, from
    * exact epoch-day integers), Frequency (order count) and Monetary
    * (exact-decimal spend), then the 64-cell (r, f, m) segment census
    * with customer counts and average spend — the standard CRM
    * segmentation readout (score 1 = most recent / most frequent /
    * highest spend). Scale shape: orders reduce ONCE keyed on
    * o_custkey to the O(customers) RFM table; the as-of date is an
    * O(1) broadcast scalar; at or below the ScaleOps.SortWindowGate
    * footer count the three quartile windows sort customers (never
    * orders) in one task with deterministic custkey tie-breaks; above
    * the gate the IDENTICAL scores come from three
    * ScaleOps.distributedRank + ntileFromRank passes, so no
    * single-partition exchange ever carries the customer table
    * (forced ≡-pinned in ScaleOpsSpec); the final rollup is O(64)
    * either way.
    */
  def qSegRfm(s: SparkSession, dir: String): DataFrame =
    segRfmFrom(orders(s, dir),
      scalePath = LlmData.parquetRowCount(s, s"$dir/orders.parquet") > ScaleOps.SortWindowGate)

  /** qSegRfm with the path gate exposed so the forced-scale spec can
    * pin scale ≡ exact on the same input.
    */
  private[graft] def segRfmFrom(ord: DataFrame, scalePath: Boolean): DataFrame = {
    // o_orderdate ships TIMESTAMP_NTZ; the cast to TIMESTAMP is
    // wall-clock identity under the pinned-UTC session (the
    // Tables.events convention) and unix_micros needs LTZ input
    val odUs = unix_micros(col("o_orderdate").cast("timestamp"))
    val perCust = ord.groupBy("o_custkey")
      .agg(max(odUs).as("last_us"),
        count(lit(1)).as("frequency"), sum(d2(col("o_totalprice"))).as("monetary"))
    val asOf = ord.agg(max(odUs).as("asof_us"))
    val base = perCust.crossJoin(broadcast(asOf))
      .withColumn("recency_days", expr("(asof_us - last_us) div 86400000000"))
    def score(df: DataFrame, name: String, order: Seq[Column]): DataFrame =
      if (!scalePath) df.withColumn(name, ntile(4).over(Window.orderBy(order: _*)))
      else ScaleOps.distributedRank(df, Nil, order, "__rn", "__n")
        .withColumn(name, ScaleOps.ntileFromRank("__rn", "__n", 4))
        .drop("__rn", "__n")
    val rfm =
      score(
        score(
          score(base, "r_score", Seq(col("recency_days"), col("o_custkey"))),
          "f_score", Seq(col("frequency").desc, col("o_custkey"))),
        "m_score", Seq(col("monetary").desc, col("o_custkey")))
    rfm.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("frequency")).as("n_orders"),
        round(sum(col("monetary")).cast("double") / count(lit(1)), 6).as("avg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** CUPED variance-reduced experiment readout (`q_stat_cuped`, r11):
    * the industry-standard pre-period covariate adjustment (Deng et
    * al., WSDM'13 — public): users split into two deterministic arms
    * (user_id mod 2; the production variant is the q_sample_split
    * hash), X = each user's pre-period value sum (first half of the
    * observed day span), Y = post-period sum; θ = cov(X,Y)/var(X)
    * estimated over ALL users, and each arm's adjusted mean is
    * mean(Y) − θ·(mean(X_arm) − mean(X_all)), with ρ² = the fraction
    * of Y-variance CUPED removes. Scale shape: events reduce ONCE
    * keyed on user_id to the O(users) (X, Y) table (the split
    * boundary is an O(1) broadcast scalar); arm census + cross-moment
    * sums partial-aggregate to O(2) rows of exact decimals (X·Y
    * products are exact decimal(38,4)); every double op closes over
    * the same exact sums in both engines. Honest bound: var(X) = 0
    * (constant pre-period) makes θ undefined — surfaced as NULL, not
    * a crash.
    */
  def qStatCuped(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"),
      expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("day_idx"),
      d2(col("value")).as("v"))
    val bounds = ev.agg(min(col("day_idx")).as("lo"), max(col("day_idx")).as("hi"))
      .select(expr("lo + (hi - lo + 1) div 2").as("mid"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .groupBy("user_id")
      .agg(sum(when(col("day_idx") < col("mid"), col("v")).otherwise(d2(lit(0)))).as("x0"),
        sum(when(col("day_idx") >= col("mid"), col("v")).otherwise(d2(lit(0)))).as("y0"))
      // clamp the widened sum type back to (18,2) so the cross-moment
      // PRODUCTS stay inside decimal(38,4) — precision-38 overflow
      // would silently round (the Mann-Whitney decimal-width lesson);
      // honest bound: a user's half-period sum past 10^16 cents needs
      // the documented decimal re-widening
      .select(col("user_id"), d2(col("x0")).as("x"), d2(col("y0")).as("y"))
    val census = perUser.groupBy((col("user_id") % 2).cast("int").as("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val w = Window.partitionBy()
    val g = census
      .withColumn("nn", sum(col("n")).over(w))
      .withColumn("tsx", sum(col("sx")).over(w))
      .withColumn("tsy", sum(col("sy")).over(w))
      .withColumn("tsxy", sum(col("sxy")).over(w))
      .withColumn("tsxx", sum(col("sxx")).over(w))
      .withColumn("tsyy", sum(col("syy")).over(w))
    val nn = col("nn").cast("double")
    val covXY = col("tsxy").cast("double") / nn -
      (col("tsx").cast("double") / nn) * (col("tsy").cast("double") / nn)
    val varX = col("tsxx").cast("double") / nn -
      (col("tsx").cast("double") / nn) * (col("tsx").cast("double") / nn)
    val varY = col("tsyy").cast("double") / nn -
      (col("tsy").cast("double") / nn) * (col("tsy").cast("double") / nn)
    val theta = when(varX > lit(0.0), covXY / varX)
    val meanXArm = col("sx").cast("double") / col("n")
    val meanYArm = col("sy").cast("double") / col("n")
    val meanXAll = col("tsx").cast("double") / nn
    g.select(col("arm"), col("n").as("n_users"),
        round(meanXArm, 6).as("mean_pre"),
        round(meanYArm, 6).as("mean_post"),
        round(meanYArm - theta * (meanXArm - meanXAll), 6).as("mean_post_cuped"),
        round(theta, 6).as("theta"),
        round(when(varX > lit(0.0) && varY > lit(0.0),
          covXY * covXY / (varX * varY)), 6).as("rho2"))
      .orderBy("arm")
  }

  /** Delta-method ratio-metric readout (`q_stat_ratio_delta`, r11):
    * per event type, the value-per-event ratio estimated over USERS
    * (the unit of randomization — a plain per-event mean understates
    * the variance because events within a user correlate), with the
    * delta-method standard error
    * se = √((σ²ₓ + r²σ²ᵧ − 2rσₓᵧ)/n)/ȳ and the 95% CI — the standard
    * experimentation treatment of ratio metrics (revenue per click,
    * items per session) where both numerator and denominator are
    * per-user random variables. Scale shape: events reduce ONCE keyed
    * on (type, user) to exact (Σx cents, y count) pairs clamped to
    * decimal(18,2)/(18,0) before cross-products (the cuped width
    * firewall); the O(types) census carries exact moments; every
    * double closes identically cross-engine; z as the shared
    * 16-digit literal.
    */
  def qStatRatioDelta(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir).groupBy("event_type", "user_id")
      .agg(sum(d2(col("value"))).as("x0"), count(lit(1)).as("y0"))
      .select(col("event_type"), d2(col("x0")).as("x"),
        col("y0").cast("decimal(18,0)").as("y"))
    val census = perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val n = col("n_users")
    val mx = col("sx").cast("double") / n
    val my = col("sy").cast("double") / n
    val r = mx / my
    val varx = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / n) / (n - lit(1.0))
    val vary = (col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double") / n) / (n - lit(1.0))
    val covxy = (col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double") / n) / (n - lit(1.0))
    val se = sqrt((varx + r * r * vary - lit(2.0) * r * covxy) / n) / my
    val z = lit(1.959963984540054)
    census.select(col("event_type"), col("n_users"),
        round(r, 6).as("ratio"), round(se, 6).as("se_delta"),
        round(r - z * se, 6).as("ci_lo"), round(r + z * se, 6).as("ci_hi"))
      .orderBy("event_type")
  }

  /** Bitmap-based exact distinct count (`q_agg_bitmap_distinct`,
    * r11): per event type, distinct users counted through Spark's
    * roaring-style bitmap aggregate family — bucket the id space
    * (32768 ids per bucket via bitmap_bucket_number), build one
    * bitmap per (type, bucket) with bitmap_construct_agg, OR-merge
    * and popcount. This is THE scale pattern for repeated exact
    * count-distinct over dense integer ids (ClickHouse/Iceberg-style):
    * the shuffle carries fixed 4 KB bitmaps instead of one row per
    * distinct value, partial aggregation compresses ~32768×, and
    * stored per-bucket bitmaps compose across partitions/days with
    * bitmap_or_agg where countDistinct state cannot. ids shift by +1
    * so the domain stays strictly positive (the bucket formula
    * branches at zero). The oracle is plain COUNT(DISTINCT) — pinning
    * that the bitmap path is EXACT, not approximate.
    */
  def qAggBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val perBucket = events(s, dir)
      .groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id + 1)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id + 1))").as("bm"),
        count(lit(1)).as("n"))
    perBucket.groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct_users"),
        sum(col("n")).as("n_events"))
      .orderBy("event_type")
  }

  /** Experiment power / minimum-detectable-effect calculator
    * (`q_stat_power`, r11): for each event type, the smallest
    * per-user value lift a 50/50 experiment on its active users could
    * detect at α = 5% two-sided / 80% power — MDE =
    * (z₀.₉₇₅ + z₀.₈₀)·√(s²·(1/n₁ + 1/n₂)) — the design readout teams
    * consult BEFORE running the q_stat_ttest / q_stat_cuped analysis
    * (an experiment whose MDE exceeds any plausible effect is wasted
    * traffic). The z-sum is ONE shared 17-digit literal in both
    * engines (the bootstrap CDF-literal convention). The unit of
    * randomization is the USER, so variance is measured over per-user
    * value totals, never events. Scale shape: events reduce ONCE
    * keyed on (type, user) with the per-user sums clamped to
    * decimal(18,2) before squaring (the q_stat_cuped width firewall);
    * the O(types) census carries exact moments; every double closes
    * identically cross-engine.
    */
  def qStatPower(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir).groupBy("event_type", "user_id")
      .agg(sum(d2(col("value"))).as("x0"))
      .select(col("event_type"), d2(col("x0")).as("x"))
    val census = perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val n = col("n_users")
    val mean = col("sx").cast("double") / n
    val variance = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / n) / (n - lit(1.0))
    val n1 = expr("n_users div 2")
    val n2 = col("n_users") - expr("n_users div 2")
    // z_{0.975} + z_{0.80} folded to one literal, identical in the SQL
    val mde = lit(2.8015852181129683) *
      sqrt(variance * (lit(1.0) / n1 + lit(1.0) / n2))
    census.select(col("event_type"), col("n_users"),
        round(mean, 6).as("mean_value"),
        round(sqrt(variance), 6).as("std_value"),
        round(mde, 6).as("mde_abs"),
        round(mde / mean, 6).as("mde_rel"))
      .orderBy("event_type")
  }

  /** Deterministic Poisson-bootstrap 95% CI for each segment's mean
    * balance — the industry-standard bootstrap at scale (per
    * replicate, each row gets an independent Poisson(1) weight, so
    * resampling never materializes resamples): B = 100 replicates,
    * weights drawn from the two-step Lehmer hash of (row, replicate)
    * through a truncated-at-7 inverse Poisson CDF (identical literal
    * cut-points both engines). Replicate means use exact decimal
    * weighted sums, so the only doubles are the same closing
    * divisions; the CI is `percentile` over the B means (≡ DuckDB
    * quantile_cont, the q_agg_quantile-proven equivalence).
    *
    * Scale shape: the ×B fan-out is a NARROW explode that partial-
    * aggregates to O(segments·B) rows before its one exchange — the
    * raw table never shuffles; replicate determinism means any
    * executor re-run reproduces the same weights (rand() bootstraps
    * are neither replayable nor retry-safe).
    */
  def qStatBootstrap(s: SparkSession, dir: String): DataFrame = {
    val B = 100
    // P(Poisson(1) <= k), k = 0..6; identical 12-digit literals in
    // the oracle SQL
    val cdf = Seq(0.367879441171, 0.735758882343, 0.919698602929,
      0.980988306458, 0.996340153340, 0.999406005720, 0.999916980812)
    val h = (((col("c_custkey") * lit(101L) + col("b")) * lit(48271L)) % lit(2147483647L)
      * lit(48271L)) % lit(2147483647L)
    val u = h.cast("double") / lit(2147483647.0)
    val k = cdf.zipWithIndex.foldRight(lit(7): Column) { case ((c, i), rest) =>
      when(u < lit(c), lit(i)).otherwise(rest)
    }
    val reps = customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), d2(col("c_acctbal")).as("x"))
      .withColumn("b", explode(sequence(lit(1), lit(B))))
      .withColumn("k", k)
      .groupBy("c_mktsegment", "b")
      .agg(sum(col("k") * col("x")).as("wsum"), sum(col("k")).as("wn"))
      .withColumn("mean_b", col("wsum").cast("double") / col("wn"))
    reps.groupBy("c_mktsegment")
      .agg(
        round(expr("percentile(mean_b, 0.025)"), 6).as("ci_lo"),
        round(expr("percentile(mean_b, 0.975)"), 6).as("ci_hi"),
        count(lit(1)).as("n_reps"))
      .orderBy("c_mktsegment")
  }

  /** Mann–Whitney U rank-sum test (tie-corrected z, no continuity
    * correction) of each market segment's balances vs the rest — the
    * nonparametric companion to qStatTtest for skewed metrics where a
    * mean test misleads. Scale shape: ranks are NEVER assigned to
    * rows; the pooled ranking folds to the per-distinct-VALUE count
    * grid (the qStatKsDrift trick): avg-rank of value v =
    * cum_before(v) + (cnt(v)+1)/2, kept in exact 2×rank integer units
    * so every rank sum is exact — accumulated as decimal(38,0), since
    * Σ csv·ar2 ≈ 2·n1·N would wrap a long once n1·N nears 2⁶² — and
    * the only doubles are the identical closing expressions both
    * engines evaluate. The global
    * cumulative window runs over the O(distinct cents) grid — bounded
    * by the VALUE RANGE (≈1.1M possible cents), not row count; the
    * tie term Σ(t³−t) sums as exact decimal(38,0).
    */
  def qStatMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val cents = (d2(col("c_acctbal")) * lit(100)).cast("long")
    val cust = customer(s, dir).select(col("c_mktsegment"), cents.as("v"))
    val vc = cust.groupBy("v").agg(count(lit(1)).as("cnt")).cache()
    val wCum = Window.orderBy("v")
    val grid = vc
      .withColumn("cumb", sum(col("cnt")).over(wCum) - col("cnt"))
      .withColumn("ar2", lit(2) * col("cumb") + col("cnt") + lit(1))
      .select(col("v"), col("ar2"))
    val tot = vc.agg(
      sum(col("cnt")).as("nn"),
      sum((col("cnt") * col("cnt") * col("cnt") - col("cnt"))
        .cast("decimal(38,0)")).as("tiesum"))
    val sv = cust.groupBy("c_mktsegment", "v").agg(count(lit(1)).as("csv"))
    val rs = sv.join(grid, "v")
      .groupBy("c_mktsegment")
      // cast ONE OPERAND before the multiply (the pcaBasis rule): a
      // post-product cast would still run the multiply in long
      // arithmetic, which wraps once csv·ar2 nears 2⁶³ at extreme
      // corpus sizes; decimal × long promotes the product itself
      .agg(sum(col("csv").cast("decimal(38,0)") * col("ar2")).as("rs2"),
        sum(col("csv")).as("n1"))
      .crossJoin(broadcast(tot))
      .withColumn("n2", col("nn") - col("n1"))
    // 2U = 2R1 − n1(n1+1); E[2U] = n1·n2;
    // Var[2U] = n1·n2/3 · ((N+1) − Σ(t³−t)/(N(N−1)))
    val u2 = col("rs2") - col("n1") * (col("n1") + lit(1L))
    val z = (u2 - col("n1") * col("n2")).cast("double") /
      sqrt(col("n1").cast("double") * col("n2") / lit(3.0) *
        ((col("nn") + lit(1L)).cast("double") -
          col("tiesum").cast("double") /
            (col("nn").cast("double") * (col("nn") - lit(1L)))))
    rs.select(col("c_mktsegment"), col("n1").as("n_seg"),
        round(u2.cast("double") / lit(2.0), 6).as("u_stat"),
        round(z, 6).as("z_stat"))
      .withColumn("significant", abs(col("z_stat")) > lit(1.96))
      .orderBy("c_mktsegment")
  }

  def qAggStats(s: SparkSession, dir: String): DataFrame = {
    def stats(c: String, p: String): Seq[Column] = {
      val x = d2(col(c))
      val sumc = sum(x).cast("double")
      val sumsq = sum(x * x).cast("double")
      val n = count(lit(1)).cast("double")
      Seq(
        round(sumc / n, 6).as(s"${p}_avg"),
        round(sqrt((sumsq - sumc * sumc / n) / (n - lit(1.0))), 6).as(s"${p}_std"),
        min(col(c)).as(s"${p}_min"),
        max(col(c)).as(s"${p}_max"))
    }
    val cols = stats("l_quantity", "qty") ++ stats("l_extendedprice", "price") ++
      stats("l_discount", "disc") ++ stats("l_tax", "tax")
    lineitem(s, dir).agg(cols.head, cols.tail: _*)
  }

  def qAggQuantile(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("q1"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("q2"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("q3"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Weighted median (`q_agg_wmedian`): per return flag, the smallest
    * l_extendedprice whose cumulative l_quantity weight reaches half
    * the total — the lower weighted median, the robust "typical price
    * weighted by volume" statistic Spark has no native function for
    * (percentile() weights rows equally). Shape: ONE user-key window
    * pass (cumulative weight in exact decimal over a fully
    * deterministic (value, pk) order), threshold filter, then the min
    * over the qualifying suffix — no sort-wide collect, no
    * percentile approximation; the 2·cumw ≥ totw compare runs in
    * exact decimal so both engines cross at the identical row.
    */
  def qAggWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    // Two-phase exact crossing search (guide §2.3: aggregate before
    // you shuffle). The previous shape ran the cumulative-weight
    // window over EVERY row — one task per return flag sorting a
    // third of the corpus with non-compact decimal sums. Weights are
    // exact centi-unit LONGS (the same DECIMAL(18,2) value lattice,
    // so every comparison crosses at the identical row), phase 1
    // reduces the corpus to O(flags × price-buckets) partial sums and
    // finds each flag's crossing bucket, and phase 2 runs the
    // running-sum window over only that bucket's slice (~1/100 of the
    // rows). Outputs are bit-identical: min price is untouched and
    // totw/100.0 is the same nearest-double as CAST(decimal AS DOUBLE).
    val wl = (col("l_quantity").cast(D) * lit(100)).cast("long")
    val li = lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"), wl.as("w"))
      .withColumn("bkt", floor(col("l_extendedprice") / lit(1000.0)))
    val wB = Window.partitionBy("l_returnflag").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("l_returnflag")
    val wR = Window.partitionBy("l_returnflag").orderBy("bkt")
    val crossing = li.groupBy(col("l_returnflag"), col("bkt"))
      .agg(sum(col("w")).as("bw"))
      .withColumn("cumb", sum(col("bw")).over(wB))
      .withColumn("totw", sum(col("bw")).over(wF))
      .withColumn("base", col("cumb") - col("bw"))
      .filter(col("cumb") * lit(2) >= col("totw"))
      .withColumn("rb", row_number().over(wR))
      .filter(col("rb") === 1) // the bucket where the cumulative weight crosses
      .select(col("l_returnflag"), col("bkt"), col("base"), col("totw"))
    val wCum = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(crossing), Seq("l_returnflag", "bkt"))
      .withColumn("cumw", col("base") + sum(col("w")).over(wCum))
      .filter(col("cumw") * lit(2) >= col("totw"))
      .groupBy("l_returnflag")
      .agg(outD(min(col("l_extendedprice"))).as("wmedian"),
        (first(col("totw")) / lit(100.0)).as("tot_weight"))
      .orderBy("l_returnflag")
  }

  /** Peer-group z-score outliers (`q_win_zscore_peer`): each
    * customer's balance z-scored against their NATION's peers, top-3
    * |z| per nation flagged — the within-cohort outlier face
    * completing the triad with q_ev_anomaly (trailing time window)
    * and q_emb_outlier (vector space). Moment math mirrors
    * qStatTtest's firewall: per-nation Σx and Σx² fold in exact
    * decimal over a nation-key window, so the doubles both engines
    * evaluate are identical; output is the per-nation top-3 by
    * (|z| desc, custkey) — deterministic cut, one key exchange.
    */
  def qWinZscorePeer(s: SparkSession, dir: String): DataFrame = {
    val wN = Window.partitionBy("c_nationkey")
    val cust = customer(s, dir)
      .select(col("c_nationkey"), col("c_custkey"), d2(col("c_acctbal")).as("v"))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("sx", sum(col("v")).over(wN))
      .withColumn("sxx", sum(col("v") * col("v")).over(wN))
      .withColumn("mean", col("sx").cast("double") / col("n"))
      // n = 1 makes the sample variance 0/0 = NaN, and greatest()
      // would keep the NaN (both engines rank NaN largest), leaving z
      // resting on cross-engine NaN formatting — a singleton peer
      // group has no defined dispersion, so pin std = 0 explicitly
      .withColumn("std", when(col("n") > 1, sqrt(greatest(
        (col("sxx").cast("double") - col("sx").cast("double") *
          col("sx").cast("double") / col("n")) / (col("n") - lit(1L)), lit(0.0))))
        .otherwise(lit(0.0)))
      .withColumn("z", (col("v").cast("double") - col("mean")) /
        greatest(col("std"), lit(1e-9)))
    val wTop = Window.partitionBy("c_nationkey")
      .orderBy(abs(col("z")).desc, col("c_custkey"))
    cust.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 3)
      .select(col("c_nationkey"), col("rnk"), col("c_custkey"),
        outD(col("v")).as("acctbal"), round(col("z"), 6).as("z"))
      .orderBy("c_nationkey", "rnk")
  }

  /** Gini concentration coefficient (`q_agg_gini`) per market
    * segment over account balances — the revenue/wealth-concentration
    * statistic (G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the
    * ascending-sorted values): the "how top-heavy is this segment"
    * number every mixture/concentration report carries. ONE key-window
    * pass assigns ranks over a fully deterministic (value, pk) order;
    * the rank-weighted sum folds in exact decimal (rn·v is int ×
    * decimal — exact), and the closing expression runs the identical
    * double op order on both engines.
    */
  def qAggGini(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("v"), col("c_custkey"))
    customer(s, dir)
      .select(col("c_mktsegment"), d2(col("c_acctbal")).as("v"), col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("sv"),
        sum(col("rn") * col("v")).as("siv"))
      // a zero-sum group (negative balances cancelling) has no defined
      // concentration, and the bare formula would divide by zero —
      // where Spark doubles give NaN but DuckDB errors/NULLs, so the
      // undefined case is pinned to NULL explicitly in both engines
      .select(col("c_mktsegment"), col("n"),
        when(col("sv") =!= lit(0),
          round(lit(2.0) * col("siv").cast("double") /
            (col("n").cast("double") * col("sv").cast("double")) -
            (col("n") + lit(1L)).cast("double") / col("n").cast("double"), 6))
          .as("gini"))
      .orderBy("c_mktsegment")
  }

  def qAggModeFreq(s: SparkSession, dir: String): DataFrame = {
    val freq = lineitem(s, dir).groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("cnt"))
    freq.withColumn("pct", round(col("cnt") / sum(col("cnt")).over(Window.partitionBy()), 6))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Pearson correlation + OLS slope from EXACT decimal sufficient
    * statistics (n, Σx, Σy, Σx², Σy², Σxy): the sums are
    * order-independent decimals and the closed-form combination is the
    * same double expression in both engines — no reliance on the
    * engines' streaming corr() kernels, whose merge order (and thus
    * last-bit result) is partition-layout-dependent.
    */
  def qAggCorr(s: SparkSession, dir: String): DataFrame = {
    def d6(c: String): Column = col(c).cast("decimal(18,6)")
    val n = col("n").cast("double")
    def dd(c: String): Column = col(c).cast("double")
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(d6("l_quantity")).as("sx"),
        sum(d6("l_extendedprice")).as("sy"),
        sum(d6("l_quantity") * d6("l_quantity")).as("sxx"),
        sum(d6("l_extendedprice") * d6("l_extendedprice")).as("syy"),
        sum(d6("l_quantity") * d6("l_extendedprice")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        round((n * dd("sxy") - dd("sx") * dd("sy")) /
          sqrt((n * dd("sxx") - dd("sx") * dd("sx")) *
               (n * dd("syy") - dd("sy") * dd("sy"))), 6).as("corr_qty_price"),
        round((n * dd("sxy") - dd("sx") * dd("sy")) /
          (n * dd("sxx") - dd("sx") * dd("sx")), 6).as("slope_price_per_qty"))
      .orderBy("l_returnflag")
  }

  /** Fixed-width histogram: binning as a distributed GROUP BY (the
    * width_bucket shape). Bucket ids come from floor-division of the
    * raw value — identical double arithmetic in both engines — and
    * empty buckets are omitted by both.
    */
  def qAggHist(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(least(floor(col("l_extendedprice") / 10000), lit(10)).cast("int").as("bucket"),
        col("l_extendedprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_items"),
        outD(sum(d2(col("l_extendedprice")))).as("total_price"))
      .orderBy("bucket")

  /** Skew-mitigating two-stage aggregation: pre-aggregate on
    * (key, salt) — bounding any one reducer's share of a hot key to
    * 1/8 — then combine the partials on the key alone. Exact decimal
    * partials make the salted sum bit-equal to the direct one, which
    * is what the plain-GROUP-BY oracle checks. Locally Spark's
    * map-side partial aggregation already gives this effect; the
    * explicit salt is the recipe for cluster-scale hot keys where a
    * single reduce partition would otherwise absorb the whole key.
    */
  def qAggSalted(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(8)))
      .groupBy("user_id", "salt")
      .agg(count(lit(1)).as("pn"), sum(col("value").cast(D)).as("pv"))
      .groupBy("user_id")
      .agg(sum(col("pn")).as("n_events"), outD(sum(col("pv"))).as("total_value"))
      .orderBy("user_id")

  // ===== TPC-H-style composite analytics (round 3) =====
  // End-to-end showcases: multi-join star queries with mixed broadcast
  // (dims) / shuffle (fact-fact) strategy, exact decimal revenue, and
  // a bounded top-k sink. Adapted to the harness schema (no
  // o_shippriority / comment columns).

  /** TPC-H Q3 shape: shipping-priority revenue of not-yet-shipped
    * BUILDING-segment orders, top 10 by revenue.
    */
  def qTpchQ3(s: SparkSession, dir: String): DataFrame = {
    val cut = "1996-07-01"
    val cust = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = orders(s, dir).filter(col("o_orderdate") < dateLit(cut))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = lineitem(s, dir).filter(col("l_shipdate") > dateLit(cut))
      .select(col("l_orderkey"),
        (d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("l_orderkey", "o_orderdate")
      .agg(outD(sum(col("rev"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "o_orderdate", "revenue")
  }

  /** TPC-H Q5 shape: local-supplier volume — revenue per nation from
    * 1996 orders where the customer and the line's supplier share the
    * nation. Dims (supplier/nation) broadcast; fact-fact joins shuffle
    * on their keys.
    */
  def qTpchQ5(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .filter(col("o_orderdate") >= dateLit("1996-01-01") &&
              col("o_orderdate") < dateLit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val cust = customer(s, dir).select("c_custkey", "c_nationkey")
    val supp = supplier(s, dir).select("s_suppkey", "s_nationkey")
    val li = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
      (d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(outD(sum(col("rev"))).as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10 shape: top-20 customers by revenue lost to returned
    * items over one quarter.
    */
  def qTpchQ10(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .filter(col("o_orderdate") >= dateLit("1996-01-01") &&
              col("o_orderdate") < dateLit("1996-04-01"))
      .select("o_orderkey", "o_custkey")
    val li = lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).as("rev"))
    val cust = customer(s, dir).select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(outD(sum(col("rev"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
  }

  /** TPC-H Q4 shape: order-priority checking — per-priority count of
    * first-half-1996 orders with at least one line shipped more than
    * 90 days after the order date (the harness schema has no
    * commitdate/receiptdate, so "late" is shipdate vs orderdate). The
    * EXISTS becomes a left-semi join whose condition references both
    * sides (orderkey equi + date residual).
    */
  def qTpchQ4(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .filter(col("o_orderdate") >= dateLit("1996-01-01") &&
              col("o_orderdate") < dateLit("1996-07-01"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = lineitem(s, dir).select("l_orderkey", "l_shipdate")
    // timestamp + interval, NOT date_add (which would truncate the
    // order timestamp to a date and diverge from the oracle's
    // `o_orderdate + INTERVAL 90 DAY` on any time-of-day component)
    ord.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q6 shape: the revenue-forecast scan-aggregate — one year of
    * shipments, a discount band, small quantities, no joins. The whole
    * query is a single pushed-down parquet scan + partial/final agg;
    * at 100 TB it is bounded by scan bandwidth alone.
    */
  def qTpchQ6(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") >= dateLit("1996-01-01") &&
              col("l_shipdate") < dateLit("1997-01-01") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(outD(sum(d2(col("l_extendedprice")) * d2(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q14 shape: promotion revenue share for one month — the
    * conditional-aggregate-ratio pattern (CASE inside SUM over a
    * broadcast dim join).
    */
  def qTpchQ14(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
      .filter(col("l_shipdate") >= dateLit("1996-09-01") &&
              col("l_shipdate") < dateLit("1996-10-01"))
      .select(col("l_partkey"),
        (d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).as("rev"))
    li.join(broadcast(part(s, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
          outD(sum(when(col("p_type").like("PROMO%"), col("rev")).otherwise(d2(lit(0))))) /
          outD(sum(col("rev"))), 6).as("promo_share"),
        outD(sum(col("rev"))).as("total_revenue"))
  }

  /** TPC-H Q18 shape: large-volume customers — orders whose total
    * quantity exceeds 160, with customer attribution, top 100. The
    * HAVING pre-aggregates lineitem before the orders join, so only
    * qualifying orderkeys reach the join at scale.
    */
  def qTpchQ18(s: SparkSession, dir: String): DataFrame = {
    val big = lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(outD(sum(d2(col("l_quantity")))).as("total_qty"))
      .filter(col("total_qty") > 160)
    big.join(orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
      .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
  }

  /** TPC-H Q7 shape: volume shipping between two nations — revenue per
    * (supplier nation, customer nation, year) for the ordered pairs of
    * NATION_1/NATION_2 over 1996–1997. The nation filter is applied to
    * the supplier/customer dimension sides BEFORE the fact joins, so
    * only qualifying keys reach them; the asymmetric-pair predicate
    * then excludes same-nation flows.
    */
  def qTpchQ7(s: SparkSession, dir: String): DataFrame = {
    val picked = nation(s, dir).filter(col("n_name").isin("NATION_1", "NATION_2"))
    val supp = supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(picked.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cust = customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(picked.select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("nk2"))
      .select("c_custkey", "cust_nation")
    val li = lineitem(s, dir)
      .filter(col("l_shipdate") >= dateLit("1996-01-01") &&
              col("l_shipdate") < dateLit("1998-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).as("l_year"),
        (d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).as("rev"))
    li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(outD(sum(col("rev"))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape: national market share — NATION_3's share of
    * EUROPE-customer revenue per year. The share is a ratio of two
    * decimal-exact sums, computed in double only at the end.
    */
  def qTpchQ8(s: SparkSession, dir: String): DataFrame = {
    val euroNations = nation(s, dir)
      .join(broadcast(region(s, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val cust = customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(euroNations), col("c_nationkey") === col("n_nationkey"), "left_semi")
      .select("c_custkey")
    val supp = supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(s, dir).select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select("s_suppkey", "supp_nation")
    val ord = orders(s, dir)
      .filter(col("o_orderdate") >= dateLit("1996-01-01") &&
              col("o_orderdate") < dateLit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
    val li = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
      (d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(round(
          outD(sum(when(col("supp_nation") === "NATION_3", col("rev")).otherwise(d2(lit(0))))) /
          outD(sum(col("rev"))), 6).as("mkt_share"),
        outD(sum(col("rev"))).as("total_revenue"))
      .orderBy("o_year")
  }

  /** TPC-H Q15 shape: top supplier(s) — suppliers whose quarterly
    * revenue equals the maximum. The max is a window over the
    * already-aggregated per-supplier table (supplier-cardinality, tiny
    * at any corpus scale), not a second scan; ties all surface, as in
    * the spec's correlated-subquery form.
    */
  def qTpchQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(s, dir)
      .filter(col("l_shipdate") >= dateLit("1996-01-01") &&
              col("l_shipdate") < dateLit("1996-04-01"))
      .groupBy("l_suppkey")
      .agg(outD(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))).as("total_rev"))
    rev.withColumn("mx", max(col("total_rev")).over(Window.partitionBy()))
      .filter(col("total_rev") === col("mx"))
      .join(broadcast(supplier(s, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_rev")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21 shape: suppliers who kept orders waiting — for
    * F-status orders with lines from 2+ suppliers, the supplier who
    * was the ONLY one to ship late (> 60 days after the order date),
    * counted per supplier, top 20. The triple EXISTS/NOT-EXISTS of the
    * spec is re-expressed as ONE aggregation per order (distinct
    * suppliers, distinct late suppliers) joined back to the per-
    * (order, supplier) late flags — one orderkey shuffle instead of
    * three self-joins, same result set.
    */
  def qTpchQ21(s: SparkSession, dir: String): DataFrame = {
    val ordF = orders(s, dir).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    // ONE aggregation of the raw stream to per-(order, supplier) late
    // flags (distinct suppliers ≡ rows of the pair table, so no
    // countDistinct expansion), then ONE per-order census. The census
    // filter keeps only orders with exactly one late supplier, so
    // max(when(has_late, suppkey)) inside the same aggregate IS that
    // supplier — the cached pair table, its second read, and the
    // sort-merge semi join of the previous shape all disappear (the
    // culprit is recovered in-aggregate instead of by joining back).
    val perPair = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("has_late"))
    perPair.groupBy("l_orderkey")
      .agg(count(lit(1)).as("nsupp"),
        count(when(col("has_late"), lit(1))).as("nlate"),
        max(when(col("has_late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("nsupp") >= 2 && col("nlate") === 1)
      .groupBy(col("late_supp").as("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier(s, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
      .select("s_name", "numwait")
  }

  /** TPC-H Q17 shape: small-quantity-order revenue — the correlated
    * aggregate subquery (quantity below half the part's own average)
    * decorrelated into ONE per-part aggregate joined back to the
    * filtered fact on the same key, so both sides of the join share
    * the l_partkey shuffle. The boundary predicate is decimal-exact
    * (qty·2·cnt < Σqty) instead of a double average, because a
    * hard `<` threshold on a float mean could flip between engines
    * with summation order. The qty operand is DECIMAL(8,2), not the
    * usual (18,2): ×2×count must stay inside width 38 in BOTH engines
    * (DuckDB silently promotes an over-38 product to DOUBLE while
    * Spark caps the declared type — the qEvAnomaly divergence), and
    * (8,2)×(10,0)×(19,0) = 37 ≤ 38 keeps DuckDB exact. l_quantity is
    * 1.0–50.0 in the fixtures (q_agg_moments documents the same
    * dependence). (Harness schema has no p_container, so the part
    * filter is p_type + p_size.)
    */
  def qTpchQ17(s: SparkSession, dir: String): DataFrame = {
    val pq = lineitem(s, dir).groupBy(col("l_partkey").as("pk"))
      .agg(sum(d2(col("l_quantity"))).as("sq"), count(lit(1)).as("cq"))
    val smallParts = part(s, dir)
      .filter(col("p_type") === "SMALL" && col("p_size") <= 15)
      .select("p_partkey")
    lineitem(s, dir)
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .join(pq, col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast("decimal(8,2)") * lit(2) * col("cq") < col("sq"))
      .agg((outD(sum(d2(col("l_extendedprice")))) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q20 shape: nested IN against an aggregate-derived set —
    * suppliers who dominated (shipped more than half the 1996 volume
    * of) some widget part. The spec's partsupp.availqty comparison
    * has no harness table, so the "excess stock" condition becomes a
    * dominant-share condition with the same nested-IN decorrelation:
    * per-(supplier, part) sums, a per-part total via a window over the
    * ALREADY-aggregated pair table (no second fact scan), and a semi
    * join into supplier. All comparisons decimal-exact (2·sq > tq);
    * sq is re-narrowed to (18,2) before doubling so the product stays
    * inside width 38 in BOTH engines — unnarrowed, DuckDB's (38,2)×2
    * silently promotes to DOUBLE while Spark stays capped decimal
    * (the qEvAnomaly divergence). A per-(supplier, part) quantity sum
    * past 10^16 NULLs (Spark) / errors (DuckDB) loudly instead.
    */
  def qTpchQ20(s: SparkSession, dir: String): DataFrame = {
    val widgets = part(s, dir).filter(col("p_name").like("%widget")).select("p_partkey")
    val sp = lineitem(s, dir)
      .filter(col("l_shipdate") >= dateLit("1996-01-01") &&
              col("l_shipdate") < dateLit("1997-01-01"))
      .join(broadcast(widgets), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(d2(col("l_quantity"))).cast(D).as("sq"))
    val dominant = sp
      .withColumn("tq", sum(col("sq")).over(Window.partitionBy("l_partkey")))
      .filter(col("sq") * 2 > col("tq"))
      .select("l_suppkey").distinct()
    supplier(s, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    * join with an extra join-side predicate (so zero-order customers
    * survive with count 0), then a count-of-counts re-aggregation.
    * First groupBy is per-customer (custkey shuffle); the second input
    * is customer-cardinality, so the distribution agg is cheap.
    */
  def qTpchQ13(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir).filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select("o_orderkey", "o_custkey")
    customer(s, dir).select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q22 shape: global sales opportunity — customers from a
    * nation-key list with above-average positive balance and no recent
    * orders: scalar aggregate subquery (broadcast single row) + anti
    * join. The average test is decimal-exact (bal·cnt > Σbal), not a
    * float-mean comparison. (No c_phone in the harness schema, so the
    * country-code list is a c_nationkey list and the output code IS
    * the nation key.)
    */
  def qTpchQ22(s: SparkSession, dir: String): DataFrame = {
    val nks = Seq(1, 5, 9, 13, 17, 21)
    val cust = customer(s, dir).filter(col("c_nationkey").isin(nks: _*))
    val pos = cust.filter(col("c_acctbal") > 0.0)
      .agg(sum(d2(col("c_acctbal"))).as("sbal"), count(lit(1)).as("cnt"))
    val recent = orders(s, dir)
      .filter(col("o_orderdate") >= dateLit("2000-01-01"))
      .select("o_custkey")
    cust.crossJoin(broadcast(pos))
      .filter(d2(col("c_acctbal")) * col("cnt") > col("sbal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), outD(sum(d2(col("c_acctbal")))).as("totacctbal"))
      .select(col("c_nationkey").as("cntrycode"), col("numcust"), col("totacctbal"))
      .orderBy("cntrycode")
  }

  /** TPC-H Q9 shape: product-type profit by nation and year — the
    * 5-table star join with an arithmetic measure. The harness has no
    * partsupp.supplycost, so cost is the synthetic p_retailprice ×
    * quantity (same join/aggregate shape, decimal-exact measure).
    * Part and supplier dims broadcast; the only big shuffle is
    * lineitem⋈orders on orderkey.
    */
  def qTpchQ9(s: SparkSession, dir: String): DataFrame = {
    val widgetParts = part(s, dir).filter(col("p_name").like("%widget%"))
      .select("p_partkey", "p_retailprice")
    val supp = supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(s, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    // d2(qty), NOT cast-to-int: Spark's double→int cast truncates
    // toward zero while DuckDB's rounds to nearest, so an int cost
    // term would diverge on any non-integral quantity; the decimal
    // cast rounds HALF_UP identically in both engines
    val profit = d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))) -
      d2(col("p_retailprice")) * d2(col("l_quantity"))
    lineitem(s, dir)
      .join(broadcast(widgetParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("o_year", year(col("o_orderdate")))
      .groupBy("nation", "o_year")
      .agg(outD(sum(profit)).as("sum_profit"))
      .orderBy("nation", "o_year")
  }

  /** TPC-H Q2 shape: minimum-cost supplier per part — the correlated
    * MIN subquery decorrelated as a window-min over the per-(part,
    * supplier) aggregate (supplier "cost" = min line price, since the
    * harness has no partsupp). Ties all surface, as in the spec's
    * correlated form; dims broadcast onto the aggregated (small) side.
    */
  def qTpchQ2(s: SparkSession, dir: String): DataFrame = {
    // ONE partkey exchange serves both the (partkey, suppkey) agg and
    // the per-partkey min window: hash-partitioning on a PREFIX of the
    // grouping keys satisfies the agg's clustering requirement, and
    // the window then runs in-place instead of re-shuffling the
    // aggregated table (measured 3-4× on this subplan). Tradeoff made
    // explicit: the exchange carries raw rows (no map-side partial
    // agg) — at lineitem's ~4 rows per (partkey, suppkey) group the
    // saved exchange dominates; for a high-dup-factor fact a
    // partial-agg-first double exchange would win instead.
    val cost = lineitem(s, dir)
      .repartition(col("l_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(d2(col("l_extendedprice"))).as("scost"))
    val minCost = cost
      .withColumn("mcost", min(col("scost")).over(Window.partitionBy("l_partkey")))
      .filter(col("scost") === col("mcost"))
    val parts = part(s, dir).filter(col("p_size") >= 30 && col("p_type") === "LARGE")
      .select("p_partkey", "p_name")
    val supp = supplier(s, dir).select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
      .join(broadcast(nation(s, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
    minCost.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_name"), outD(col("scost")).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q11 shape: important stock identification — per-part value
    * from a nation group's suppliers, kept if above 2× the mean part
    * value (scale-invariant analogue of the spec's fixed fraction,
    * which would go empty as N grows). Group-total via one broadcast
    * scalar row; threshold decimal-exact (v·cnt > 2·Σv), with v
    * re-narrowed to (18,2) and the total to (28,2) so BOTH products
    * stay inside width 38 in both engines (DuckDB promotes an over-38
    * product to DOUBLE silently — the qEvAnomaly divergence; the
    * narrowing makes overflow loud instead). The per-part table is
    * cached: it feeds both the scalar total and the filter.
    */
  def qTpchQ11(s: SparkSession, dir: String): DataFrame = {
    val picked = nation(s, dir)
      .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
    val supp = supplier(s, dir)
      .join(broadcast(picked), col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select("s_suppkey")
    val value = lineitem(s, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_partkey")
      .agg(sum(d2(col("l_extendedprice"))).cast(D).as("v"))
      .cache()
    val tot = value.agg(sum(col("v")).cast("decimal(28,2)").as("tv"), count(lit(1)).as("cnt"))
    value.crossJoin(broadcast(tot))
      .filter(col("v") * col("cnt") > col("tv") * 2)
      .select(col("l_partkey").as("p_key"), outD(col("v")).as("part_value"))
      .orderBy(col("part_value").desc, col("p_key"))
  }

  /** TPC-H Q12 shape: late-line priority census — fact⋈fact join with
    * a date residual (shipped > 60 days after ordering; the harness
    * has no receiptdate/shipmode, so "late shipment" classes by
    * l_linestatus), CASE-counted by order priority. Counts only, so
    * the result is engine-exact by construction.
    */
  def qTpchQ12(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem(s, dir)
      .filter(col("l_shipdate") >= dateLit("1996-01-01") &&
              col("l_shipdate") < dateLit("1997-01-01"))
      .select("l_orderkey", "l_shipdate", "l_linestatus")
      .join(orders(s, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("l_linestatus")
      .agg(count(when(hi, lit(1))).as("high_line_count"),
        count(when(!hi, lit(1))).as("low_line_count"))
      .select(col("l_linestatus").as("linestatus"),
        col("high_line_count"), col("low_line_count"))
      .orderBy("linestatus")
  }

  /** TPC-H Q16 shape: supplier count by part attributes — NOT-IN
    * exclusion subquery (suppliers below a balance floor) as an anti
    * join, then COUNT(DISTINCT supplier) per (brand, type, size).
    * The supplier-part relation comes from lineitem (no partsupp);
    * both dims broadcast, one distinct-agg shuffle.
    */
  def qTpchQ16(s: SparkSession, dir: String): DataFrame = {
    val excluded = supplier(s, dir).filter(col("s_acctbal") < 1000.0).select("s_suppkey")
    val parts = part(s, dir)
      .filter(col("p_brand") =!= "Brand#1" && !col("p_type").like("PROMO%") &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    lineitem(s, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q19 shape: discounted revenue under a disjunction of
    * brand/size/quantity bands — the OR-of-ANDs predicate that
    * exercises CNF conversion: the join stays a single broadcast hash
    * join on partkey, with the residual disjunction evaluated inside
    * the join's codegen, not as three unions.
    */
  def qTpchQ19(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir).select("p_partkey", "p_brand", "p_size")
    val pred =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    lineitem(s, dir).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .agg(outD(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Exact higher statistical moments per group — mean, variance,
    * skewness, kurtosis of l_quantity per returnflag — from exact
    * decimal power sums (Σx, Σx², Σx³, Σx⁴), so the cross-row
    * arithmetic is partition-order-independent and the only double
    * math is the per-group closing formula (identical in both
    * engines). The same one-pass shape streams at any scale.
    */
  def qAggMoments(s: SparkSession, dir: String): DataFrame = {
    // DECIMAL(8,2), not the usual (18,2): the 4th power must stay
    // inside the 38-digit cap ((8,2)^4 → (35,8)) or Spark truncates
    // the product scale and the sums stop being exact. l_quantity is
    // 1.0..50.0 in the fixtures (range recorded in FIXTURES.md), far
    // inside (8,2); a value past 999999.99 would NULL the cast here
    // while DuckDB errors, so the range note is load-bearing.
    val x = col("l_quantity").cast("decimal(8,2)")
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("s1"),
        sum(x * x).cast("double").as("s2"),
        sum(x * x * x).cast("double").as("s3"),
        sum(x * x * x * x).cast("double").as("s4"))
      .select(col("l_returnflag"), col("n"),
        round(col("s1") / col("n"), 6).as("mean"),
        round(col("s2") / col("n") - pow(col("s1") / col("n"), 2), 6).as("variance"),
        round((col("s3") / col("n") - lit(3) * (col("s1") / col("n")) * (col("s2") / col("n")) +
          lit(2) * pow(col("s1") / col("n"), 3)) /
          pow(col("s2") / col("n") - pow(col("s1") / col("n"), 2), 1.5), 6).as("skewness"),
        round((col("s4") / col("n") - lit(4) * (col("s1") / col("n")) * (col("s3") / col("n")) +
          lit(6) * pow(col("s1") / col("n"), 2) * (col("s2") / col("n")) -
          lit(3) * pow(col("s1") / col("n"), 4)) /
          pow(col("s2") / col("n") - pow(col("s1") / col("n"), 2), 2) - lit(3), 6).as("kurtosis"))
      .orderBy("l_returnflag")
  }

  /** One-pass table profile (`q_profile_table`) — the ANALYZE/
    * data-quality census every warehouse runs before trusting a new
    * load: per column of `lineitem`, null count, exact distinct
    * count, and (numeric columns) min/max as doubles. One row per
    * column; the readout that catches an all-null load, a collapsed
    * dimension, or an out-of-range measure before any query does.
    *
    * Scale shape: ONE corpus pass explodes each row into an 11-entry
    * skinny (column, value) stream that PARTIAL-aggregates per
    * partition before the single (column, value)-keyed distinct
    * exchange — the same two-phase shape Spark plans for
    * count(DISTINCT), made explicit; the final rollup is O(columns)
    * rows. Strings and timestamps join the distinct census through an
    * injective string form (the count is representation-independent);
    * min/max stay typed and numeric-only, so no engine-specific
    * string formatting ever reaches the output.
    */
  def qProfileTable(s: SparkSession, dir: String): DataFrame = {
    val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val strCols = Seq("l_returnflag", "l_linestatus")
    val tsCols = Seq("l_shipdate")
    val entries =
      numCols.map(c => struct(lit(c).as("cname"),
        col(c).cast("double").as("vnum"), lit(null).cast("string").as("vstr"))) ++
      strCols.map(c => struct(lit(c).as("cname"),
        lit(null).cast("double").as("vnum"), col(c).as("vstr"))) ++
      tsCols.map(c => struct(lit(c).as("cname"),
        lit(null).cast("double").as("vnum"), col(c).cast("string").as("vstr")))
    lineitem(s, dir)
      .select(explode(array(entries: _*)).as("p"))
      .select(col("p.cname").as("cname"),
        col("p.vnum").as("vnum"),
        coalesce(col("p.vnum").cast("string"), col("p.vstr")).as("vkey"))
      .groupBy("cname")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("vkey"))).as("n_null"),
        countDistinct(col("vkey")).as("n_distinct"),
        min(col("vnum")).as("min_num"),
        max(col("vnum")).as("max_num"))
      .orderBy("cname")
  }

  // ===== §2.5 window functions =====

  def qWinRank(s: SparkSession, dir: String): DataFrame = {
    val byPrice = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc)
    val total = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        rank().over(byPrice).as("rnk"),
        dense_rank().over(byPrice).as("drnk"),
        row_number().over(total).as("rn"))
      .filter(col("rnk") <= 50)
      .orderBy("o_orderpriority", "rn")
  }

  def qWinTopkGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey"))
    part(s, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_name"), col("p_retailprice"),
        row_number().over(w).as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy("p_brand", "rnk")
  }

  def qWinMovavg(s: SparkSession, dir: String): DataFrame = {
    val daily = lineitem(s, dir)
      .groupBy(col("l_shipdate").cast("date").as("day"))
      .agg(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))).as("revenue"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    daily
      .select(col("day"), outD(col("revenue")).as("revenue"),
        round(sum(col("revenue")).over(w).cast("double") / count(lit(1)).over(w), 6).as("movavg7"))
      .orderBy("day")
  }

  def qWinLagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_prev_us"),
        (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))).as("gap_next_us"))
      .orderBy("user_id", "event_id")
  }

  def qWinCumsum(s: SparkSession, dir: String): DataFrame = {
    val daily = lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_shipdate").cast("date").as("day"))
      .agg(sum(d2(col("l_quantity"))).as("day_qty"))
    val w = Window.partitionBy("l_returnflag").orderBy("day")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select(col("l_returnflag"), col("day"), outD(col("day_qty")).as("day_qty"),
        outD(sum(col("day_qty")).over(w)).as("cum_qty"))
      .orderBy("l_returnflag", "day")
  }

  /** Quartile + percent_rank census over the customer table. Scale
    * shape: at or below the ScaleOps.SortWindowGate footer count the
    * two unpartitioned windows sort customers in one task (the
    * oracle's own semantics); above it the IDENTICAL numbers come
    * from ONE ScaleOps.distributedRank pass on the total order
    * (c_acctbal, c_custkey) — quartile via ntileFromRank, and
    * percent_rank's RANK (ties share the rank of their first row)
    * recovered as min(rn) over the per-value group, a window KEYED on
    * c_acctbal (never a single-partition exchange). percent_rank =
    * (rank − 1)/(n − 1) is then the same IEEE division both engines
    * evaluate. Forced ≡-pinned in ScaleOpsSpec.
    */
  def qWinNtilePctrank(s: SparkSession, dir: String): DataFrame =
    winNtilePctrankFrom(customer(s, dir),
      scalePath = LlmData.parquetRowCount(s, s"$dir/customer.parquet") > ScaleOps.SortWindowGate)

  /** qWinNtilePctrank with the path gate exposed so the forced-scale
    * spec can pin scale ≡ exact on the same input.
    */
  private[graft] def winNtilePctrankFrom(cust: DataFrame, scalePath: Boolean): DataFrame = {
    val base = cust.select(col("c_custkey"), col("c_acctbal"))
    val ranked =
      if (!scalePath) {
        val total = Window.orderBy(col("c_acctbal"), col("c_custkey"))
        val byBal = Window.orderBy(col("c_acctbal"))
        base.select(col("c_custkey"), col("c_acctbal"),
          ntile(4).over(total).as("quartile"),
          round(percent_rank().over(byBal), 6).as("pct_rank"))
      } else {
        val wVal = Window.partitionBy("c_acctbal")
        ScaleOps.distributedRank(base, Nil,
            Seq(col("c_acctbal"), col("c_custkey")), "__rn", "__n")
          .withColumn("quartile", ScaleOps.ntileFromRank("__rn", "__n", 4))
          // n = 1 emits 0.0 exactly like PercentRank (never 0/0)
          .withColumn("pct_rank",
            round(when(col("__n") > 1L,
              (min(col("__rn")).over(wVal) - lit(1L)).cast("double") /
                (col("__n") - lit(1L)).cast("double")).otherwise(lit(0.0)), 6))
          .select("c_custkey", "c_acctbal", "quartile", "pct_rank")
      }
    ranked.orderBy("c_custkey")
  }

  // ===== §2.6 sort / set ops / scalar functions =====

  def qSortLimit(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  def qUnionAll(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val a = o.filter(year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey"), lit("y1995").as("tag"), col("o_totalprice"))
    val b = o.filter(year(col("o_orderdate")) === 2000)
      .select(col("o_orderkey"), lit("y2000").as("tag"), col("o_totalprice"))
    a.unionByName(b).orderBy("o_orderkey")
  }

  def qIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      .intersect(o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
      .orderBy("o_custkey")
  }

  def qExcept(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      .except(o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
      .orderBy("o_custkey")
  }

  def qExprString(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        lower(col("p_brand")).as("brand_lower"),
        substring(col("p_name"), 1, 5).as("name_pfx"),
        trim(col("p_name")).as("name_trim"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
        length(col("p_name")).as("name_len"))
      .orderBy("p_partkey")

  def qExprDate(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        trunc(col("o_orderdate"), "month").as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
        last_day(col("o_orderdate")).as("month_end"))
      .orderBy("o_orderkey")

  def qExprMath(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        round(col("p_retailprice"), 1).as("price_r1"),
        floor(col("p_retailprice")).as("price_floor"),
        ceil(col("p_retailprice")).as("price_ceil"),
        round(abs(col("p_retailprice") - 1000), 2).as("abs_delta"),
        pow(col("p_size"), 2).as("size_sq"),
        round(sqrt(col("p_retailprice")), 6).as("price_sqrt"),
        round(log(col("p_retailprice")), 6).as("price_ln"),
        round(exp(col("p_size") / lit(25.0)), 6).as("size_exp"),
        signum(col("p_retailprice") - 1000).cast("int").as("price_sign"))
      .orderBy("p_partkey")

  def qExprJson(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") > 50)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  /** Array expressions. The verifier sorts output frames with pandas,
    * which cannot sort array cells — so array results are flattened to
    * scalar columns (head elements) and floats are widened to double
    * (exact, and identical formatting in both engines).
    */
  def qExprArray(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_val"),
        element_at(col("embedding"), 2).cast("double").as("head_2"),
        element_at(col("embedding"), 3).cast("double").as("head_3"),
        array_max(col("embedding")).cast("double").as("max_val"),
        round(aggregate(col("embedding").cast("array<double>"), lit(0.0), (acc, x) => acc + x), 6).as("sum_val"))
      .orderBy("vec_id")

  /** Map/struct aggregation, rendered as a canonical "type:count" CSV
    * string (array/struct cells cannot survive the verifier's pandas
    * sort; the string form is also engine-portable).
    */
  def qExprMap(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(concat_ws(",",
        expr("transform(sort_array(collect_list(struct(event_type, cnt))), x -> concat(x.event_type, ':', x.cnt))"))
        .as("type_counts"))
      .orderBy("user_id")

  def qExprCondNull(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("NONE")).as("flag_or_none"),
        coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)).as("disc_or_neg"),
        isnan(lit("NaN").cast("double") * col("l_tax")).as("nan_probe"),
        nvl(nullif(col("l_linestatus"), lit("F")), lit("DONE")).as("status_nvl"))
      .orderBy("l_orderkey", "l_linenumber")

  // ===== oracle SQL (DuckDB) =====

  /** Pivot: per-day event counts spread into one column per event
    * type (explicit value list keeps column order deterministic and,
    * at scale, avoids the extra distinct-values job).
    */
  def qAggPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("day").pivot("event_type", types).agg(count(lit(1)))
      .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("day")
  }

  /** first/last/nth value window frame over each user's event history. */
  def qWinFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, dir)
      .select(col("user_id"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type"),
        nth_value(col("event_type"), 2).over(w).as("second_type"),
        row_number().over(wRn).as("rn"))
      .filter(col("rn") === 1)
      .select("user_id", "first_type", "last_type", "second_type")
      .orderBy("user_id")
  }

  /** String aggregation: per (returnflag, linestatus), the sorted
    * distinct ship-years as one comma-joined string —
    * order-insensitive via sort_array, matching DuckDB string_agg
    * with ORDER BY.
    */
  def qExprStragg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .withColumn("yr", year(col("l_shipdate")).cast("string"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(concat_ws(",", sort_array(collect_set(col("yr")))).as("ship_years"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Event-time range frame: per event, activity of the same user in
    * the preceding hour (RANGE BETWEEN INTERVAL ... on the timestamp,
    * expressed as a microsecond range frame).
    */
  def qWinRangeInterval(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("events_last_hour"),
        outD(sum(col("value").cast("decimal(18,2)")).over(w)).as("value_last_hour"))
      .orderBy("event_id")
  }

  /** This module's queries, each with its oracle (see [[Query]]). */
  val registry: Seq[Query] = Seq(
    Query("q_agg_corr", qAggCorr, Sql(
      """WITH t AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    SQRT((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_qty_price,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope_price_per_qty
        |FROM t ORDER BY l_returnflag""".stripMargin)),
    Query("q_agg_hist", qAggHist, Sql(
      """SELECT CAST(LEAST(FLOOR(l_extendedprice / 10000), 10) AS INT) AS bucket,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)),
    Query("q_agg_salted", qAggSalted, Sql(
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("q_tpch_q3", qTpchQ3, Sql(
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND l_shipdate > TIMESTAMP '1996-07-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Query("q_tpch_q5", qTpchQ5, Sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),
    Query("q_tpch_q10", qTpchQ10, Sql(
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    Query("q_tpch_q4", qTpchQ4, Sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("q_tpch_q6", qTpchQ6, Sql(
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),
    Query("q_tpch_q14", qTpchQ14, Sql(
      """SELECT
        |  ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_share,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin)),
    Query("q_tpch_q18", qTpchQ18, Sql(
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 160
        |)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin)),
    Query("q_tpch_q7", qTpchQ7, Sql(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  YEAR(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    Query("q_tpch_q8", qTpchQ8, Sql(
      """SELECT YEAR(o_orderdate) AS o_year,
        |  ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS mkt_share,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    JOIN nation cn ON c_nationkey = cn.n_nationkey
        |    JOIN region ON cn.n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("q_tpch_q15", qTpchQ15, Sql(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    Query("q_tpch_q21", qTpchQ21, Sql(
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |), per_order AS (
        |  SELECT l_orderkey,
        |    COUNT(DISTINCT l_suppkey) AS nsupp,
        |    COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate
        |  FROM li GROUP BY 1
        |  HAVING COUNT(DISTINCT l_suppkey) >= 2
        |     AND COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) = 1
        |), per_pair AS (
        |  SELECT l_orderkey, l_suppkey FROM li GROUP BY 1, 2 HAVING MAX(late)
        |)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM per_pair
        |JOIN per_order USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),
    Query("q_tpch_q17", qTpchQ17, Sql(
      """WITH pq AS (
        |  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq, COUNT(*) AS cq
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pq ON pk = l_partkey
        |WHERE p_type = 'SMALL' AND p_size <= 15
        |  AND CAST(l_quantity AS DECIMAL(8,2)) * 2 * cq < sq""".stripMargin)),
    Query("q_tpch_q20", qTpchQ20, Sql(
      """WITH sp AS (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sq
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%widget'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2
        |), pt AS (SELECT l_partkey, SUM(sq) AS tq FROM sp GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM sp JOIN pt USING (l_partkey) WHERE sq * 2 > tq)
        |ORDER BY s_suppkey""".stripMargin)),
    Query("q_tpch_q13", qTpchQ13, Sql(
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey
        |) GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    Query("q_tpch_q22", qTpchQ22, Sql(
      """WITH pos AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sbal, COUNT(*) AS cnt
        |  FROM customer WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 5, 9, 13, 17, 21)
        |)
        |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, pos
        |WHERE c_nationkey IN (1, 5, 9, 13, 17, 21)
        |  AND CAST(c_acctbal AS DECIMAL(18,2)) * cnt > sbal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("q_tpch_q9", qTpchQ9, Sql(
      """SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |    - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("q_tpch_q2", qTpchQ2, Sql(
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey, MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS scost
        |  FROM lineitem GROUP BY 1, 2
        |), mn AS (SELECT l_partkey, MIN(scost) AS mcost FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, CAST(scost AS DOUBLE) AS supply_cost
        |FROM part JOIN cost ON p_partkey = cost.l_partkey
        |JOIN mn ON mn.l_partkey = p_partkey AND scost = mcost
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_size >= 30 AND p_type = 'LARGE'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)),
    Query("q_tpch_q11", qTpchQ11, Sql(
      """WITH val AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3') GROUP BY 1
        |), tot AS (SELECT CAST(SUM(v) AS DECIMAL(28,2)) AS tv, COUNT(*) AS cnt FROM val)
        |SELECT l_partkey AS p_key, CAST(v AS DOUBLE) AS part_value
        |FROM val, tot WHERE v * cnt > tv * 2
        |ORDER BY part_value DESC, p_key""".stripMargin)),
    Query("q_tpch_q12", qTpchQ12, Sql(
      """SELECT l_linestatus AS linestatus,
        |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
        |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("q_tpch_q16", qTpchQ16, Sql(
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
        |GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    Query("q_tpch_q19", qTpchQ19, Sql(
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    // Same 11-way stacked census: injective string keys for the
    // distinct counts (count is representation-independent), typed
    // numeric min/max, identical per-column null accounting.
    Query("q_profile_table", qProfileTable, Sql(
      """WITH st AS (
        |  SELECT 'l_orderkey' AS cname, CAST(l_orderkey AS DOUBLE) AS vnum, CAST(NULL AS VARCHAR) AS vstr FROM lineitem
        |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS DOUBLE), NULL FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS DOUBLE), NULL FROM lineitem
        |  UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS DOUBLE), NULL FROM lineitem
        |  UNION ALL SELECT 'l_quantity', CAST(l_quantity AS DOUBLE), NULL FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE), NULL FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE), NULL FROM lineitem
        |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE), NULL FROM lineitem
        |  UNION ALL SELECT 'l_returnflag', CAST(NULL AS DOUBLE), l_returnflag FROM lineitem
        |  UNION ALL SELECT 'l_linestatus', CAST(NULL AS DOUBLE), l_linestatus FROM lineitem
        |  UNION ALL SELECT 'l_shipdate', CAST(NULL AS DOUBLE), CAST(l_shipdate AS VARCHAR) FROM lineitem
        |), k AS (
        |  SELECT cname, vnum, COALESCE(CAST(vnum AS VARCHAR), vstr) AS vkey FROM st
        |)
        |SELECT cname, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(vkey) AS n_null,
        |  COUNT(DISTINCT vkey) AS n_distinct,
        |  MIN(vnum) AS min_num, MAX(vnum) AS max_num
        |FROM k GROUP BY cname ORDER BY cname""".stripMargin)),
    Query("q_agg_moments", qAggMoments, Sql(
      """WITH p AS (
        |  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(8,2)) AS x FROM lineitem
        |), sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS s1,
        |    CAST(SUM(x * x) AS DOUBLE) AS s2,
        |    CAST(SUM(x * x * x) AS DOUBLE) AS s3,
        |    CAST(SUM(x * x * x * x) AS DOUBLE) AS s4
        |  FROM p GROUP BY 1
        |)
        |SELECT l_returnflag, n,
        |  ROUND(s1 / n, 6) AS mean,
        |  ROUND(s2 / n - POW(s1 / n, 2), 6) AS variance,
        |  ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * POW(s1 / n, 3))
        |    / POW(s2 / n - POW(s1 / n, 2), 1.5), 6) AS skewness,
        |  ROUND((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * POW(s1 / n, 2) * (s2 / n)
        |    - 3 * POW(s1 / n, 4)) / POW(s2 / n - POW(s1 / n, 2), 2) - 3, 6) AS kurtosis
        |FROM sums ORDER BY l_returnflag""".stripMargin)),
    Query("q_scan_parquet", qScanParquet, Sql(
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber")),
    Query("q_scan_prune", qScanPrune, Sql(
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("q_filter_pred", qFilterPred, Sql(
      """SELECT * FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
        |  AND o_orderstatus IN ('F','O')
        |  AND (o_totalprice > 50000 OR o_orderstatus IS NOT DISTINCT FROM 'F')
        |ORDER BY o_orderkey""".stripMargin)),
    Query("q_project_expr", qProjectExpr, Sql(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net_price,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS charged,
        |  CASE WHEN l_quantity >= 30 THEN 'BULK' WHEN l_quantity >= 10 THEN 'MEDIUM' ELSE 'SMALL' END AS qty_band
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("q_join_bhj", qJoinBhj, Sql(
      """SELECT p_brand, s_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_name ORDER BY p_brand, s_name""".stripMargin)),
    Query("q_join_smj", qJoinSmj, Sql(
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("q_join_shj", qJoinShj, Sql(
      """SELECT o_orderstatus, l_linestatus, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus, l_linestatus
        |ORDER BY o_orderstatus, l_linestatus""".stripMargin)),
    Query("q_join_outer", qJoinOuter, Sql(
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin)),
    Query("q_join_full", qJoinFull, Sql(
      """WITH a AS (
        |  SELECT o_custkey AS a_custkey, COUNT(*) AS a_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS a_spent
        |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey
        |), b AS (
        |  SELECT o_custkey AS b_custkey, COUNT(*) AS b_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS b_spent
        |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
        |)
        |SELECT COALESCE(a_custkey, b_custkey) AS custkey,
        |  COALESCE(a_orders, 0) AS orders_1995,
        |  COALESCE(a_spent, 0.0) AS spent_1995,
        |  COALESCE(b_orders, 0) AS orders_1996,
        |  COALESCE(b_spent, 0.0) AS spent_1996
        |FROM a FULL OUTER JOIN b ON a_custkey = b_custkey
        |ORDER BY custkey""".stripMargin)),
    Query("q_join_semi", qJoinSemi, Sql(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),
    Query("q_join_anti", qJoinAnti, Sql(
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin)),
    Query("q_join_theta_range", qJoinThetaRange, Sql(
      """SELECT a.event_id AS a_id, b.event_id AS b_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |ORDER BY a_id, b_id""".stripMargin)),
    Query("q_join_asof", qJoinAsof, Sql(
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS prio,
        |    CASE WHEN event_type = 'view' THEN event_id END AS view_id
        |  FROM events WHERE event_type IN ('view','purchase')
        |), lv AS (
        |  SELECT *, LAST_VALUE(view_id IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, prio, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id
        |  FROM tagged
        |)
        |SELECT event_id AS purchase_id, user_id, last_view_id AS prior_view_id
        |FROM lv WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin)),
    // The q_join_asof window carrying (view id, view ts); the 1-hour
    // tolerance gates on exact long µs, nulls/matched mirror Spark's
    // three-valued <= through COALESCE.
    Query("q_join_asof_tol", qJoinAsofTol, Sql(
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS prio,
        |    CASE WHEN event_type = 'view' THEN event_id END AS view_id,
        |    CASE WHEN event_type = 'view' THEN ts END AS view_ts
        |  FROM events WHERE event_type IN ('view','purchase')
        |), lv AS (
        |  SELECT *,
        |    LAST_VALUE(view_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, prio, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id,
        |    LAST_VALUE(view_ts IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, prio, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
        |  FROM tagged
        |), g AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_us(ts) - epoch_us(last_view_ts) AS gap0, last_view_id
        |  FROM lv WHERE event_type = 'purchase'
        |)
        |SELECT purchase_id, user_id,
        |  CASE WHEN gap0 <= 3600000000 THEN last_view_id END AS prior_view_id,
        |  CASE WHEN gap0 <= 3600000000 THEN gap0 END AS gap_us,
        |  COALESCE(gap0 <= 3600000000, FALSE) AS matched
        |FROM g ORDER BY purchase_id""".stripMargin)),
    Query("q_join_asof_fwd", qJoinAsofFwd, Sql(
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS prio,
        |    CASE WHEN event_type = 'view' THEN event_id END AS view_id
        |  FROM events WHERE event_type IN ('view','purchase')
        |), nv AS (
        |  SELECT *, FIRST_VALUE(view_id IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, prio, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_id
        |  FROM tagged
        |)
        |SELECT event_id AS purchase_id, user_id, next_view_id
        |FROM nv WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin)),
    Query("q_join_cross_topk", qJoinCrossTopk, Sql(
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, e.vec_id,
        |    ROUND(list_cosine_similarity(p.v, e.v), 6) AS cosine
        |  FROM emb p JOIN emb e ON p.vec_id < 10 AND e.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rnk
        |  FROM scored
        |)
        |SELECT probe_id, vec_id, cosine, rnk FROM ranked WHERE rnk <= 3
        |ORDER BY probe_id, rnk""".stripMargin)),
    Query("q_agg_hash", qAggHash, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q_agg_distinct", qAggDistinct, Sql(
      """SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations, COUNT(*) AS n_customers,
        |  COUNT(DISTINCT (c_nationkey, c_mktsegment)) AS n_nation_seg
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("q_agg_rollup", qAggRollup, Sql(
      """SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal, COUNT(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin)),
    Query("q_agg_pivot", qAggPivot, Sql(
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),
    Query("q_win_firstlast", qWinFirstLast, Sql(
      """SELECT user_id, first_type, last_type, second_type FROM (
        |  SELECT user_id,
        |    FIRST_VALUE(event_type) OVER w AS first_type,
        |    LAST_VALUE(event_type) OVER w AS last_type,
        |    NTH_VALUE(event_type, 2) OVER w AS second_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    Query("q_expr_stragg", qExprStragg, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  string_agg(DISTINCT CAST(year(l_shipdate) AS VARCHAR), ',' ORDER BY CAST(year(l_shipdate) AS VARCHAR)) AS ship_years,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q_expr_scalar_subq", qExprScalarSubq, Sql(
      """SELECT o_orderkey, o_totalprice AS total_price,
        |  (SELECT MAX(l_extendedprice)
        |   FROM lineitem WHERE l_orderkey = o_orderkey) AS max_item_price
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin)),
    Query("q_agg_grouping_sets", qAggGroupingSets, Sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus, g_rf, g_ls""".stripMargin)),
    Query("q_agg_cube", qAggCube, Sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),
    Query("q_stat_bootstrap", qStatBootstrap, Sql(
      """WITH reps AS (
        |  SELECT c_mktsegment, b,
        |    CASE
        |      WHEN u < 0.367879441171 THEN 0 WHEN u < 0.735758882343 THEN 1
        |      WHEN u < 0.919698602929 THEN 2 WHEN u < 0.980988306458 THEN 3
        |      WHEN u < 0.996340153340 THEN 4 WHEN u < 0.999406005720 THEN 5
        |      WHEN u < 0.999916980812 THEN 6 ELSE 7 END AS k,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS x
        |  FROM (
        |    SELECT c_mktsegment, c_acctbal, b.b,
        |      CAST((((c_custkey * 101 + b.b) * 48271) % 2147483647 * 48271) % 2147483647 AS DOUBLE)
        |        / 2147483647.0 AS u
        |    FROM customer CROSS JOIN (SELECT UNNEST(generate_series(1, 100)) AS b) b
        |  ) t
        |), means AS (
        |  SELECT c_mktsegment, b,
        |    CAST(SUM(k * x) AS DOUBLE) / CAST(SUM(k) AS BIGINT) AS mean_b
        |  FROM reps GROUP BY 1, 2
        |)
        |SELECT c_mktsegment,
        |  ROUND(quantile_cont(mean_b, 0.025), 6) AS ci_lo,
        |  ROUND(quantile_cont(mean_b, 0.975), 6) AS ci_hi,
        |  COUNT(*) AS n_reps
        |FROM means GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),
    Query("q_stat_mannwhitney", qStatMannWhitney, Sql(
      """WITH cust AS (
        |  SELECT c_mktsegment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM customer
        |), vc AS (SELECT v, COUNT(*) AS cnt FROM cust GROUP BY 1),
        |grid AS (
        |  SELECT v, 2 * (SUM(cnt) OVER (ORDER BY v) - cnt) + cnt + 1 AS ar2
        |  FROM vc
        |), tot AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS nn,
        |    SUM(CAST(cnt * cnt * cnt - cnt AS DECIMAL(38,0))) AS tiesum
        |  FROM vc
        |), sv AS (
        |  SELECT c_mktsegment, v, COUNT(*) AS csv FROM cust GROUP BY 1, 2
        |), rs AS (
        |  SELECT c_mktsegment,
        |    -- both operands cast to DECIMAL(19,0) BEFORE the multiply
        |    -- (mirrors the Spark side's pre-product cast): the product
        |    -- width 19+19 stays inside DECIMAL(38,0), so DuckDB keeps
        |    -- exact decimal arithmetic — a DECIMAL(38,0) operand would
        |    -- push the product past 38 digits and silently fall back
        |    -- to DOUBLE (~2^53 exact), losing the cross-engine parity
        |    -- near 2^63; a post-product BIGINT cast would wrap there
        |    SUM(CAST(csv AS DECIMAL(19,0)) * CAST(ar2 AS DECIMAL(19,0))) AS rs2,
        |    CAST(SUM(csv) AS BIGINT) AS n1
        |  FROM sv JOIN grid USING (v) GROUP BY 1
        |)
        |SELECT c_mktsegment, n1 AS n_seg,
        |  ROUND(CAST(rs2 - n1 * (n1 + 1) AS DOUBLE) / 2.0, 6) AS u_stat,
        |  ROUND(CAST(rs2 - n1 * (n1 + 1) - n1 * (nn - n1) AS DOUBLE) /
        |    SQRT(CAST(n1 AS DOUBLE) * (nn - n1) / 3.0 *
        |      (CAST(nn + 1 AS DOUBLE) - CAST(tiesum AS DOUBLE) /
        |        (CAST(nn AS DOUBLE) * (nn - 1)))), 6) AS z_stat,
        |  ABS(ROUND(CAST(rs2 - n1 * (n1 + 1) - n1 * (nn - n1) AS DOUBLE) /
        |    SQRT(CAST(n1 AS DOUBLE) * (nn - n1) / 3.0 *
        |      (CAST(nn + 1 AS DOUBLE) - CAST(tiesum AS DOUBLE) /
        |        (CAST(nn AS DOUBLE) * (nn - 1)))), 6)) > 1.96 AS significant
        |FROM rs CROSS JOIN tot ORDER BY c_mktsegment""".stripMargin)),
    // Same integer rank cutoffs (no percentile interpolation) over
    // the same deterministic order; exact decimal sums both sides.
    Query("q_agg_trimmed", qAggTrimmed, Sql(
      """WITH r AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS x,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem
        |), f AS (SELECT l_returnflag, x, rn, n, n * 5 // 100 AS k FROM r)
        |SELECT l_returnflag, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS raw_mean,
        |  ROUND(CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN x
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / SUM(CASE WHEN rn > k AND rn <= n - k THEN 1 ELSE 0 END), 6) AS trimmed_mean
        |FROM f GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // Same epoch-day integers, ntile definition and tie-breaks;
    // exact decimal monetary sums, one ROUND(6) division.
    Query("q_seg_rfm", qSegRfm, Sql(
      """WITH pc AS (
        |  SELECT o_custkey, MAX(epoch_us(o_orderdate)) AS last_us,
        |    COUNT(*) AS frequency,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY o_custkey
        |), a AS (SELECT MAX(epoch_us(o_orderdate)) AS asof_us FROM orders),
        |rfm AS (
        |  SELECT pc.*, (a.asof_us - pc.last_us) // 86400000000 AS recency_days
        |  FROM pc, a
        |), sc AS (
        |  SELECT *,
        |    NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS r_score,
        |    NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
        |    NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
        |  FROM rfm
        |)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
        |  CAST(SUM(frequency) AS BIGINT) AS n_orders,
        |  ROUND(CAST(SUM(monetary) AS DOUBLE) / COUNT(*), 6) AS avg_monetary
        |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    // Same (type, user) exact reduction and delta-method chain;
    // z is the shared 16-digit literal, every double op identical.
    Query("q_stat_ratio_delta", qStatRatioDelta, Sql(
      """WITH pu AS (
        |  SELECT event_type, user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x,
        |    CAST(COUNT(*) AS DECIMAL(18,0)) AS y
        |  FROM events GROUP BY 1, 2
        |), census AS (
        |  SELECT event_type, COUNT(*) AS n_users,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM pu GROUP BY 1
        |), m AS (
        |  SELECT event_type, n_users,
        |    CAST(sx AS DOUBLE) / n_users AS mx,
        |    CAST(sy AS DOUBLE) / n_users AS my,
        |    (CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_users) / (n_users - 1.0) AS varx,
        |    (CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n_users) / (n_users - 1.0) AS vary,
        |    (CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n_users) / (n_users - 1.0) AS covxy
        |  FROM census
        |), t AS (
        |  SELECT event_type, n_users, mx / my AS r,
        |    SQRT((varx + (mx / my) * (mx / my) * vary -
        |      (2.0::DOUBLE) * (mx / my) * covxy) / n_users) / my AS se
        |  FROM m
        |)
        |SELECT event_type, n_users, ROUND(r, 6) AS ratio,
        |  ROUND(se, 6) AS se_delta,
        |  ROUND(r - (1.959963984540054::DOUBLE) * se, 6) AS ci_lo,
        |  ROUND(r + (1.959963984540054::DOUBLE) * se, 6) AS ci_hi
        |FROM t ORDER BY event_type""".stripMargin)),
    // Plain COUNT(DISTINCT) — pinning the bitmap path EXACT.
    Query("q_agg_bitmap_distinct", qAggBitmapDistinct, Sql(
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_distinct_users,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // Same (type, user)-keyed exact-decimal reduction and the ONE
    // shared z-sum literal; every double op closes identically.
    Query("q_stat_power", qStatPower, Sql(
      """WITH pu AS (
        |  SELECT event_type, user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
        |  FROM events GROUP BY 1, 2
        |), census AS (
        |  SELECT event_type, COUNT(*) AS n_users,
        |    SUM(x) AS sx, SUM(x * x) AS sxx
        |  FROM pu GROUP BY 1
        |), m AS (
        |  SELECT event_type, n_users,
        |    CAST(sx AS DOUBLE) / n_users AS mean,
        |    (CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_users) /
        |      (n_users - 1.0) AS vr,
        |    n_users // 2 AS n1, n_users - n_users // 2 AS n2
        |  FROM census
        |)
        |SELECT event_type, n_users,
        |  ROUND(mean, 6) AS mean_value,
        |  ROUND(SQRT(vr), 6) AS std_value,
        |  ROUND((2.8015852181129683::DOUBLE) *
        |    SQRT(vr * ((1.0::DOUBLE) / n1 + (1.0::DOUBLE) / n2)), 6) AS mde_abs,
        |  ROUND((2.8015852181129683::DOUBLE) *
        |    SQRT(vr * ((1.0::DOUBLE) / n1 + (1.0::DOUBLE) / n2)) / mean, 6) AS mde_rel
        |FROM m ORDER BY event_type""".stripMargin)),
    // Same O(2) exact-decimal arm census; every double op closes over
    // the same exact sums (theta/rho2 NULL-guarded identically).
    Query("q_stat_cuped", qStatCuped, Sql(
      """WITH ev AS (
        |  SELECT user_id,
        |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_idx,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events
        |), b AS (
        |  SELECT MIN(day_idx) + (MAX(day_idx) - MIN(day_idx) + 1) // 2 AS mid FROM ev
        |), pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN day_idx < b.mid THEN v
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS x,
        |    CAST(SUM(CASE WHEN day_idx >= b.mid THEN v
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS y
        |  FROM ev, b GROUP BY user_id
        |), census AS (
        |  SELECT CAST(user_id % 2 AS INTEGER) AS arm, COUNT(*) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM pu GROUP BY 1
        |), g AS (
        |  SELECT *, CAST(SUM(n) OVER () AS DOUBLE) AS nn,
        |    SUM(sx) OVER () AS tsx, SUM(sy) OVER () AS tsy,
        |    SUM(sxy) OVER () AS tsxy, SUM(sxx) OVER () AS tsxx,
        |    SUM(syy) OVER () AS tsyy
        |  FROM census
        |), m AS (
        |  SELECT *,
        |    CAST(tsxy AS DOUBLE) / nn - (CAST(tsx AS DOUBLE) / nn) * (CAST(tsy AS DOUBLE) / nn) AS cov_xy,
        |    CAST(tsxx AS DOUBLE) / nn - (CAST(tsx AS DOUBLE) / nn) * (CAST(tsx AS DOUBLE) / nn) AS var_x,
        |    CAST(tsyy AS DOUBLE) / nn - (CAST(tsy AS DOUBLE) / nn) * (CAST(tsy AS DOUBLE) / nn) AS var_y
        |  FROM g
        |)
        |SELECT arm, n AS n_users,
        |  ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_pre,
        |  ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_post,
        |  ROUND(CAST(sy AS DOUBLE) / n -
        |    (CASE WHEN var_x > 0.0 THEN cov_xy / var_x END) *
        |    (CAST(sx AS DOUBLE) / n - CAST(tsx AS DOUBLE) / nn), 6) AS mean_post_cuped,
        |  ROUND(CASE WHEN var_x > 0.0 THEN cov_xy / var_x END, 6) AS theta,
        |  ROUND(CASE WHEN var_x > 0.0 AND var_y > 0.0
        |    THEN cov_xy * cov_xy / (var_x * var_y) END, 6) AS rho2
        |FROM m ORDER BY arm""".stripMargin)),
    Query("q_stat_ttest", qStatTtest, Sql(
      """WITH census AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
        |    SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sx,
        |    SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS sxx
        |  FROM customer GROUP BY 1
        |), t AS (
        |  SELECT c_mktsegment, n, sx, sxx,
        |    SUM(n) OVER () - n AS n2,
        |    SUM(sx) OVER () - sx AS s2,
        |    SUM(sxx) OVER () - sxx AS ss2
        |  FROM census
        |)
        |SELECT c_mktsegment, n AS n_seg,
        |  ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_seg,
        |  ROUND(CAST(s2 AS DOUBLE) / n2, 6) AS mean_rest,
        |  ROUND((CAST(sx AS DOUBLE) / n - CAST(s2 AS DOUBLE) / n2) /
        |    SQRT(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1.0)) / n
        |       + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1.0)) / n2), 6)
        |    AS t_stat,
        |  ABS(ROUND((CAST(sx AS DOUBLE) / n - CAST(s2 AS DOUBLE) / n2) /
        |    SQRT(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1.0)) / n
        |       + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1.0)) / n2), 6)) > 1.96
        |    AS significant
        |FROM t ORDER BY c_mktsegment""".stripMargin)),
    Query("q_agg_stats", qAggStats, Sql {
      def st(c: String, p: String): String =
        s"""  ROUND(CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS ${p}_avg,
           |  ROUND(SQRT((CAST(SUM(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS DOUBLE)
           |    - CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
           |    / (COUNT(*) - 1.0)), 6) AS ${p}_std,
           |  MIN($c) AS ${p}_min, MAX($c) AS ${p}_max""".stripMargin
      s"""SELECT
         |${st("l_quantity", "qty")},
         |${st("l_extendedprice", "price")},
         |${st("l_discount", "disc")},
         |${st("l_tax", "tax")}
         |FROM lineitem""".stripMargin
    }),
    Query("q_agg_quantile", qAggQuantile, Sql(
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS q1,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS q2,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS q3,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q_agg_mode_freq", qAggModeFreq, Sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |  ROUND(COUNT(*) / SUM(COUNT(*)) OVER (), 6) AS pct
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q_win_zscore_peer", qWinZscorePeer, Sql(
      """WITH t AS (
        |  SELECT c_nationkey, c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS v
        |  FROM customer
        |), m AS (
        |  SELECT *,
        |    COUNT(*) OVER (PARTITION BY c_nationkey) AS n,
        |    SUM(v) OVER (PARTITION BY c_nationkey) AS sx,
        |    SUM(v * v) OVER (PARTITION BY c_nationkey) AS sxx
        |  FROM t
        |), z AS (
        |  SELECT c_nationkey, c_custkey, v,
        |    (CAST(v AS DOUBLE) - CAST(sx AS DOUBLE) / n) /
        |      GREATEST(CASE WHEN n > 1 THEN SQRT(GREATEST((CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1), 0.0))
        |        ELSE 0.0 END, 1e-9) AS zz
        |  FROM m
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |    ORDER BY ABS(zz) DESC, c_custkey) AS rnk
        |  FROM z
        |)
        |SELECT c_nationkey, rnk, c_custkey,
        |  CAST(v AS DOUBLE) AS acctbal, ROUND(zz, 6) AS z
        |FROM r WHERE rnk <= 3 ORDER BY c_nationkey, rnk""".stripMargin)),
    Query("q_agg_gini", qAggGini, Sql(
      """WITH t AS (
        |  SELECT c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS v, c_custkey
        |  FROM customer
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |    ORDER BY v, c_custkey) AS rn
        |  FROM t
        |)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |  CASE WHEN SUM(v) <> 0 THEN
        |    ROUND(2.0 * CAST(SUM(rn * v) AS DOUBLE) /
        |      (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(v) AS DOUBLE)) -
        |      CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |  END AS gini
        |FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("q_agg_wmedian", qAggWeightedMedian, Sql(
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS w
        |  FROM lineitem
        |), c AS (
        |  SELECT *,
        |    SUM(w) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM t
        |)
        |SELECT l_returnflag,
        |  CAST(MIN(l_extendedprice) AS DOUBLE) AS wmedian,
        |  CAST(ANY_VALUE(totw) AS DOUBLE) AS tot_weight
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q_win_rank", qWinRank, Sql(
      """SELECT * FROM (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk,
        |    DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rnk <= 50 ORDER BY o_orderpriority, rn""".stripMargin)),
    Query("q_win_topk_group", qWinTopkGroup, Sql(
      """SELECT * FROM (
        |  SELECT p_brand, p_partkey, p_name, p_retailprice,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |  FROM part
        |) WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin)),
    Query("q_win_movavg", qWinMovavg, Sql(
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT day, CAST(revenue AS DOUBLE) AS revenue,
        |  ROUND(CAST(SUM(revenue) OVER w AS DOUBLE) / COUNT(*) OVER w, 6) AS movavg7
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin)),
    Query("q_win_lag_lead", qWinLagLead, Sql(
      """SELECT user_id, event_id, ts,
        |  epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS gap_prev_us,
        |  epoch_us(LEAD(ts, 1) OVER w) - epoch_us(ts) AS gap_next_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin)),
    Query("q_win_range_interval", qWinRangeInterval, Sql(
      """SELECT event_id, user_id, ts,
        |  COUNT(*) OVER w AS events_last_hour,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),
    Query("q_win_cumsum", qWinCumsum, Sql(
      """WITH daily AS (
        |  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS day_qty
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT l_returnflag, day, CAST(day_qty AS DOUBLE) AS day_qty,
        |  CAST(SUM(day_qty) OVER (PARTITION BY l_returnflag ORDER BY day
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_qty
        |FROM daily ORDER BY l_returnflag, day""".stripMargin)),
    Query("q_win_ntile_pctrank", qWinNtilePctrank, Sql(
      """SELECT c_custkey, c_acctbal,
        |  NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
        |  ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal), 6) AS pct_rank
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("q_sort_limit", qSortLimit, Sql(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin)),
    Query("q_union_all", qUnionAll, Sql(
      """SELECT o_orderkey, 'y1995' AS tag, o_totalprice FROM orders WHERE year(o_orderdate) = 1995
        |UNION ALL
        |SELECT o_orderkey, 'y2000' AS tag, o_totalprice FROM orders WHERE year(o_orderdate) = 2000
        |ORDER BY o_orderkey""".stripMargin)),
    Query("q_intersect", qIntersect, Sql(
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin)),
    Query("q_except", qExcept, Sql(
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin)),
    Query("q_expr_string", qExprString, Sql(
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  LOWER(p_brand) AS brand_lower,
        |  SUBSTRING(p_name, 1, 5) AS name_pfx,
        |  TRIM(p_name) AS name_trim,
        |  CONCAT_WS('|', p_brand, p_type) AS brand_type,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        |  LENGTH(p_name) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("q_expr_date", qExprDate, Sql(
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr,
        |  month(o_orderdate) AS mo,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Query("q_expr_math", qExprMath, Sql(
      """SELECT p_partkey,
        |  ROUND(p_retailprice, 1) AS price_r1,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
        |  ROUND(ABS(p_retailprice - 1000), 2) AS abs_delta,
        |  POW(p_size, 2) AS size_sq,
        |  ROUND(SQRT(p_retailprice), 6) AS price_sqrt,
        |  ROUND(LN(p_retailprice), 6) AS price_ln,
        |  ROUND(EXP(p_size / 25.0), 6) AS size_exp,
        |  CAST(SIGN(p_retailprice - 1000) AS INTEGER) AS price_sign
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("q_expr_json", qExprJson, Sql(
      """SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k FROM (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events
        |) WHERE k > 50 GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("q_expr_array", qExprArray, Sql(
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_val,
        |  CAST(embedding[2] AS DOUBLE) AS head_2,
        |  CAST(embedding[3] AS DOUBLE) AS head_3,
        |  CAST(list_max(embedding) AS DOUBLE) AS max_val,
        |  ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6) AS sum_val
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    Query("q_expr_map", qExprMap, Sql(
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY user_id, event_type
        |)
        |SELECT user_id,
        |  string_agg(event_type || ':' || cnt, ',' ORDER BY event_type) AS type_counts
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("q_expr_cond_null", qExprCondNull, Sql(
      """SELECT l_orderkey, l_linenumber,
        |  COALESCE(NULLIF(l_returnflag, 'N'), 'NONE') AS flag_or_none,
        |  COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_or_neg,
        |  ISNAN(CAST('NaN' AS DOUBLE) * l_tax) AS nan_probe,
        |  COALESCE(NULLIF(l_linestatus, 'F'), 'DONE') AS status_nvl
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("q_agg_approx_quantile", qAggApproxQuantile,
      NoOracle("GK sketch estimates are implementation-specific; ApproxAggSpec: GK rank bound")),
    Query("q_agg_hll_sketch", qAggHllSketch,
      NoOracle("sketch internals are implementation-specific; ApproxAggSpec: merged == direct")),
    Query("q_agg_approx_distinct", qAggApproxDistinct,
      NoOracle("HLL estimates are implementation-specific; ApproxAggSpec: within 5% of exact"))
  )
}
