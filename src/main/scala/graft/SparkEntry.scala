package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qAggHash(spark, "/root/testdata/sf0.001")
  /** Every registry query's builder, by name. Each operator module
    * lists its queries as one `registry: Seq[Query]`: a name, a builder
    * over (session, scale-factor directory), and an oracle that is
    * either `Sql` (DuckDB runs it on the same parquet tables for the
    * same rows) or `NoOracle` with the reason and what grades the
    * query instead. Names are unique across modules.
    *
    * Cache contract: a handful of builders `.cache()` an
    * intermediate that two downstream branches share (q_tpch_q21's
    * per-pair flags, q_tpch_q11's per-part values, the repetition /
    * contam / simhash / minhash / IVF intermediates). The cached plans
    * are lazy, so a builder cannot unpersist them itself — the FINAL
    * consumer materializes them after this function returns. Callers
    * that sweep many registry entries in one long-lived session
    * (Verify, Bench) therefore run `spark.catalog.clearCache()`
    * between queries (or rely on LRU eviction); one-query-per-session
    * callers (the driver's per-query bench protocol) get cleanup for
    * free at session exit.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  /** The equivalent DuckDB SQL of every query whose record carries a
    * `Sql` oracle; a `NoOracle` record states why it has none. */
  def oracleSql: Map[String, String] =
    registry.collect { case (name, Query(_, _, Sql(text))) => name -> text }

  /** Every module's records by name; a name registered twice fails here. */
  lazy val registry: Map[String, Query] = Query.index(
    Relational.registry ++ EventOps.registry ++ LlmData.registry ++ LimeOps.registry ++
      LayoutOps.registry)
}
