package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, its builder over (session, scale-factor
  * directory), and its DuckDB oracle or the reason it has none. Each
  * operator module lists its queries as one `registry: Seq[Query]`;
  * `graft.SparkEntry` indexes them all.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, oracle: Oracle)

/** A query's oracle: ANSI SQL that DuckDB runs on the same parquet
  * tables for the same rows, or the stated reason there is none (and
  * what grades the query instead).
  */
sealed trait Oracle
final case class Sql(text: String) extends Oracle
final case class NoOracle(reason: String) extends Oracle

object Query {
  /** `records` by name; a name registered twice fails by name. */
  def index(records: Seq[Query]): Map[String, Query] =
    records.foldLeft(Map.empty[String, Query]) { (byName, q) =>
      if (byName.contains(q.name))
        throw new IllegalArgumentException(s"registry query ${q.name} is registered twice")
      byName.updated(q.name, q)
    }
}
