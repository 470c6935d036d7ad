package graft

import org.apache.spark.sql.Row
import scala.util.control.NonFatal

/** SURVEY.md §5.5: every declared query must produce identical results
  * under different `spark.sql.shuffle.partitions` — the guard against
  * partition-order nondeterminism breaking the driver's hash compare.
  *
  * Oracle-declared queries must match EXACTLY (their floats are
  * decimal-cast or rounded per §7.4, so reduce order cannot move them).
  * Non-oracle queries (RNG / ridge linear algebra) tolerate 1e-6 drift
  * on doubles from float reduce-order, but row sets and all other cell
  * types must be identical.
  */
class DeterminismSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def cellsMatch(a: Any, b: Any, tol: Double): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= tol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Float, y: Float) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= tol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => cellsMatch(u, v, tol) }
    case (x: Row, y: Row) =>
      x.length == y.length && x.toSeq.zip(y.toSeq).forall { case (u, v) => cellsMatch(u, v, tol) }
    case (x, y) => x == y
  }

  private def rowsMatch(a: Array[Row], b: Array[Row], tol: Double): Option[String] = {
    if (a.length != b.length) return Some(s"row count ${a.length} vs ${b.length}")
    a.zip(b).zipWithIndex.collectFirst {
      case ((r1, r2), i) if !cellsMatch(r1, r2, tol) => s"row $i: $r1 vs $r2"
    }
  }

  test("all queries partition-count invariant (shuffle.partitions 3 vs 11)") {
    val s = spark
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // GK quantile sketches (approx_percentile) merge partial
      // summaries in shuffle-arrival order, so their ESTIMATES may
      // legitimately move with partition layout; the guarantee that
      // survives any layout is the RANK-error bound, which
      // ApproxAggSpec grades. Here only the non-estimate cells
      // (group keys, counts) are compared exactly — an infinite
      // double tolerance skips the estimate columns without
      // weakening the check for any other query. HLL (approx
      // distinct) merges by register max and stays exact-stable.
      val tol =
        if (name == "q_agg_approx_quantile") Double.PositiveInfinity
        else if (SparkEntry.oracleSql.contains(name)) 0.0
        else 1e-6
      def run(parts: Int): Array[Row] = {
        // Drop cached subtrees (.cache() inside minhash/simhash/langid/
        // IVF plans) AND the session-scoped dedup pair-graph artifacts
        // so BOTH executions recompute from source — without this the
        // second run replays the first run's cache/artifact and the
        // partition-layout invariance is vacuous for those queries.
        // This double-run-with-clear sweep is also what pins the
        // SparkEntry scaladoc's cache-ownership contract: the registry
        // run twice in ONE session, caches dropped between, must
        // produce identical results (round-4 verdict item 7).
        s.catalog.clearCache()
        graft.operators.LimeOps.clearStatsCache()
        graft.operators.LlmData.clearDedupArtifacts()
        s.conf.set("spark.sql.shuffle.partitions", parts.toString)
        fn(s, dir).collect()
      }
      try {
        val diff = rowsMatch(run(3), run(11), tol)
        diff.map(d => s"$name: $d")
      } catch {
        case NonFatal(e) => Some(s"$name: threw ${e.getClass.getName}: ${e.getMessage}")
      } finally s.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
