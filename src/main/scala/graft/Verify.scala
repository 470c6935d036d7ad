package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Mutation canary for the oracle harness: with
    * `GRAFT_VERIFY_MUTATE=<query>` (env) or `-Dgraft.verify.mutate=
    * <query>`, the named query's FIRST NUMERIC COLUMN is shifted by
    * +1 before the dump. A green sweep is only as trustworthy as the
    * comparator's ability to go red; running the sweep with this flag
    * and watching preflight/the driver FAIL exactly that query proves
    * the hash compare actually bites (OutputContractSpec pins the
    * mutation mechanism itself; the end-to-end red run is recorded in
    * SURVEY §5). Production sweeps never set the flag.
    */
  private[graft] def mutate(name: String, df: DataFrame): DataFrame = {
    val target = sys.env.get("GRAFT_VERIFY_MUTATE")
      .orElse(sys.props.get("graft.verify.mutate"))
    if (!target.contains(name)) df
    else {
      import org.apache.spark.sql.functions.{col, lit}
      val numCol = df.schema.fields
        .find(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        .getOrElse(sys.error(s"mutation canary: no numeric column in $name"))
        .name
      System.err.println(s"[verify] MUTATION CANARY ACTIVE: $name.$numCol += 1")
      df.withColumn(numCol, col(numCol) + lit(1))
    }
  }
  /** Validation for the canary flag, factored out so the spec can pin
    * both failure modes without forking a JVM: the target must be a
    * registered query AND a member of the restricted selection when
    * one was passed (a valid-but-unselected target would mutate
    * nothing — the same silent no-op the unknown-name check exists to
    * prevent). Returns the error message, or None when valid.
    */
  private[graft] def canaryTargetError(target: String,
      only: Set[String]): Option[String] =
    if (!SparkEntry.queries.contains(target))
      Some(s"unknown mutation-canary target: $target")
    else if (only.nonEmpty && !only(target))
      Some(s"mutation-canary target not in the selected queries: $target")
    else None
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict the dump to the named queries
    // (builder-local preflight of a new operator; the driver always
    // passes exactly two args and gets the full sweep)
    val only = args.drop(2).toSet
    // fail fast on unknown names: a typo would otherwise select nothing,
    // write no output, and exit 0 — indistinguishable from success
    val unknown = only.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    // same fail-fast for the mutation-canary flag: a typo'd target
    // would mutate nothing and leave the red-sweep run
    // indistinguishable from a flag that was never set — and the
    // target must also be in the RESTRICTED selection when one was
    // passed, or a valid-but-unselected target reproduces the same
    // silent no-mutation failure
    sys.env.get("GRAFT_VERIFY_MUTATE")
      .orElse(sys.props.get("graft.verify.mutate"))
      .flatMap(canaryTargetError(_, only)).foreach { msg =>
        System.err.println(s"[verify] $msg")
        sys.exit(2)
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (name, _) => only(name) }
    selected.foreach { case (name, fn) =>
      try mutate(name, fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // builders may cache() shared intermediates (see SparkEntry
      // scaladoc); dropping them per query keeps this 127-query sweep
      // from accumulating cached relations for the whole session
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
