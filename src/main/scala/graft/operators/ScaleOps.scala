package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale recipes referenced in SURVEY.md §7.5: explicit skew salting
  * (for when AQE's skew-join split cannot apply — e.g. aggregations
  * into high-cardinality maps, or non-AQE engines downstream) and
  * bucketed co-located joins (ScaleOpsSpec).
  */
object ScaleOps {

  /** Salted inner equi-join for a skewed probe side: the big side gets
    * a deterministic salt in [0, buckets) derived from its whole row
    * (xxhash64 — no RNG, so plans stay partition-independent), the
    * small side is exploded ×buckets, and the join key becomes
    * (key, salt) so one hot key spreads over `buckets` tasks.
    * Row-multiplication is on the SMALL side only.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, buckets: Int): DataFrame = {
    require(buckets > 0)
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(buckets.toLong)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt"), "inner").drop("__salt")
  }

  /** Two-phase (salted) aggregation for skewed group keys: partial
    * aggregate on (key, salt), then final aggregate on key. Spark's
    * hash aggregation already does map-side partials; this form exists
    * for aggregates where the partial state itself is the skew (e.g.
    * collect-like or high-cardinality sketch states).
    */
  def saltedCount(df: DataFrame, key: String, buckets: Int): DataFrame =
    df.withColumn("__salt",
        pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)), lit(buckets.toLong)).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as("cnt"))

  /** Source tables at or below this many rows rank/ntile with the
    * plain single-partition window (the oracle's own semantics — a
    * model table derived from ≤4M raw rows sorts comfortably in one
    * task); larger inputs route through `distributedRank`, which
    * computes the IDENTICAL rank without any data-sized
    * single-partition exchange. Same adaptive pattern as
    * LlmData.TextExactGate / EmbExactGate; both paths are exact, so
    * the gate trades only plan shape, never results.
    */
  private[graft] val SortWindowGate = 4194304L

  /** Exact distributed row_number — the at-scale replacement for a
    * single-partition `Window.orderBy(...)` sort (q_ev_power_users /
    * q_seg_rfm above the SortWindowGate, q_agg_trimmed's per-group
    * rank). The input is range-partitioned on (groupCols ++ order) so
    * each task holds one contiguous slice of the total order; the
    * sliced table is cached so the sampled range boundaries (and
    * therefore slice ids) are evaluated exactly once and every
    * consumer sees the same slicing (documented cache retention, the
    * knnGraphAnn precedent). Per-(slice, group) counts — O(slices ×
    * groups) rows, model-table size — cumulate into slice offsets,
    * and the final rank is slice offset + within-slice row_number.
    *
    * Scale shape: the only data-sized exchanges are the range shuffle
    * and the within-slice window's hash exchange on (slice, group);
    * the offset cumulation's single-partition window touches the
    * O(slices × groups) counts table only — ScaleOpsSpec executes the
    * forced path and asserts every single-partition shuffle in the
    * ran plan wrote a bounded row count. `order` must be a TOTAL
    * order (every caller closes with a unique key), so the result is
    * bit-identical to the below-gate window regardless of where the
    * sampled boundaries land: boundary placement moves rows between
    * slices, and offset + local rank is invariant under that.
    *
    * Output: the input columns + `rnName` (1-based rank within the
    * group, LONG — callers cast if the window twin emits int) +
    * `nName` (total group row count — ntileFromRank needs it and a
    * separate count pass would rescan the input).
    */
  /** Caches retained by distributedRank invocations (the documented
    * cache-retention contract: the result is lazy, so the slice cache
    * cannot unpersist inside the builder). Harness sweeps clear the
    * whole catalog per query; long-lived production callers call
    * `unpersistRetained()` after materializing their consumers instead
    * of accumulating one corpus-sized cache per invocation.
    */
  private val retained =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Upper bound on retained slice caches: past it the OLDEST retained
    * cache unpersists automatically, so a long-lived caller that never
    * learns the unpersistRetained() contract accumulates at most this
    * many corpus-sized caches (the newest entries — the ones whose lazy
    * consumers may still be pending — always survive).
    */
  private val RetainedCap = 8

  /** Drop every slice cache retained by prior distributedRank calls. */
  def unpersistRetained(): Unit = {
    var d = retained.poll()
    while (d != null) { d.unpersist(false); d = retained.poll() }
  }

  def distributedRank(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                      rnName: String, nName: String,
                      numParts: Int = 0): DataFrame = {
    val parts =
      if (numParts > 0) numParts
      // "spark.sql.shuffle.partitions" may be non-numeric on some
      // platforms (e.g. "auto"); fall back to the cluster default
      else scala.util.Try(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val gcols = groupCols.map(col)
    val sliced = df.repartitionByRange(parts, gcols ++ order: _*)
      .withColumn("__slice", spark_partition_id())
      .cache()
    retained.add(sliced)
    // Eviction does not know whether a slice's lazy consumer has run:
    // RetainedCap + 1 calls before the first call's result is
    // materialized unpersist that slice, so its consumer recomputes the
    // sliced table when it runs, and the "evaluated exactly once"
    // guarantee above does not hold for it.
    while (retained.size > RetainedCap) {
      val oldest = retained.poll()
      if (oldest != null) oldest.unpersist(false)
    }
    val counts = sliced.groupBy(col("__slice") +: gcols: _*).agg(count(lit(1)).as("__cnt"))
    val cumWin = Window.partitionBy(gcols: _*).orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totWin = Window.partitionBy(gcols: _*)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__cnt")).over(cumWin), lit(0L)))
      .withColumn(nName, sum(col("__cnt")).over(totWin))
      .drop("__cnt")
    val localWin = Window.partitionBy(col("__slice") +: gcols: _*).orderBy(order: _*)
    sliced.join(broadcast(offsets), "__slice" +: groupCols)
      .withColumn(rnName, col("__off") + row_number().over(localWin))
      .drop("__slice", "__off")
  }

  /** ntile(k) computed arithmetically from an exact 1-based rank and
    * the partition row count — the ANSI definition Spark and DuckDB
    * share: the first (n mod k) buckets take ⌈n/k⌉ rows, the rest
    * ⌊n/k⌋. Paired with distributedRank this replaces a
    * single-partition ntile window bit-for-bit (the rank is exact, so
    * the bucket assignment is too — no approximation anywhere). The
    * q = 0 branch (n < k) never divides by zero: r = n there, so
    * every row satisfies rn ≤ r·(q+1). INT output, matching ntile().
    */
  def ntileFromRank(rnName: String, nName: String, k: Int): Column = {
    require(k > 0)
    expr(
      s"""CAST(CASE WHEN $rnName <= ($nName % $k) * ($nName DIV $k + 1)
         |  THEN ($rnName - 1) DIV ($nName DIV $k + 1) + 1
         |  ELSE ($nName % $k) + ($rnName - 1 - ($nName % $k) * ($nName DIV $k + 1)) DIV ($nName DIV $k) + 1
         |END AS INT)""".stripMargin)
  }

  /** Compacted partitioned parquet sink — the 100 TB write shape.
    * Repartitioning by the partition column before `partitionBy` means
    * each task writes to ONE hive partition (without it, every task
    * opens a file in every partition → tasks×partitions small files);
    * `maxRecordsPerFile` bounds file size so one hot partition still
    * splits, and `sortCols` orders rows within each file so parquet
    * min/max row-group stats support downstream predicate pushdown.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       sortCols: Seq[String], maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(col(partitionCol))
      .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)
}
