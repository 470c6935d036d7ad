package graft

import graft.operators.{NoOracle, Query, Sql}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one record per query, each with its DuckDB
  * oracle or a stated reason for having none, names unique across the
  * operator modules.
  */
class RegistrySpec extends AnyFunSuite {

  test("indexing two records with one name fails, naming the query") {
    val a = Query("q_dup", (s, d) => Tables.lineitem(s, d), Sql("SELECT 1"))
    val b = a.copy(oracle = NoOracle("second record"))
    val e = intercept[IllegalArgumentException](
      Query.index(Seq(a, a.copy(name = "q_other"), b)))
    assert(e.getMessage.contains("q_dup"), e.getMessage)
    assert(Query.index(Seq(a)).keySet == Set("q_dup"))
  }

  test("every query states its oracle or a non-empty reason for having none") {
    val reasons = SparkEntry.registry.values.collect { case Query(n, _, NoOracle(r)) => n -> r }.toMap
    reasons.foreach { case (n, r) => assert(r.trim.nonEmpty, s"$n: empty NoOracle reason") }
    // adding a query without an oracle must show up here
    assert(reasons.keySet == Set(
      "q_agg_approx_distinct", "q_agg_approx_quantile", "q_agg_hll_sketch",
      "q_agg_approx_topk", "q_agg_theta_sets", "q_emb_opq_ann", "q_emb_opqivf_ann",
      "q_emb_whiten", "q_sim_lsh_ann",
      "lime_fit_ridge", "lime_select_topk", "lime_explain_tabular", "lime_explain_cat",
      "lime_explain_text", "lime_image", "sp_lime_pick", "sp_lime_importance"))
  }

  test("the registry views hold 244 queries, 227 of them with oracle SQL") {
    assert(SparkEntry.queries.size == 244)
    assert(SparkEntry.oracleSql.size == 227)
  }
}
