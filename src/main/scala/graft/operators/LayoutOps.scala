package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Physical-layout operators (SURVEY.md §2.1/§2.3): the two table
  * layouts that decide whether a 100 TB join or scan moves data at
  * all — bucketing (pre-shuffled, co-located join input: the join
  * runs with ZERO exchanges) and hive-style partitioning (partition
  * pruning: a filtered scan reads only the matching directories,
  * statically for literal predicates and dynamically — DPP — when
  * the filter arrives through a dim-table join).
  *
  * Both layouts are materialized once per (session, sfDir, fixture
  * fingerprint) as named artifacts — the same accounting idiom as the
  * dedup pair graphs (LlmData.pairArtifact): the build cost is its
  * own bench row (`artifact_bucketed` / `artifact_partitioned`), and
  * every query entry is an honest read of the already-laid-out data,
  * exactly like a production warehouse where tables are bucketed/
  * partitioned at ingest and queried many times.
  *
  * Correctness contract: the layout NEVER changes results — each
  * query's oracle is plain SQL over the raw tables, so the driver's
  * hash compare proves layout-independence, while PlanShapeSpec /
  * ScaleOpsSpec pin the plan properties (zero join exchanges;
  * partitions actually pruned; dynamicpruningexpression present) that
  * are the whole point of the layouts.
  */
object LayoutOps {

  /** Money firewall + output representation — same rules as
    * Relational (exact decimal folds, doubles only on output).
    */
  private def d2(c: Column): Column = c.cast("decimal(18,2)")
  private def outD(c: Column): Column = c.cast("double")

  // ===== layout artifact memo (per session + dir + fixture fingerprint) =====

  private case class Layout(session: SparkSession, tables: Seq[String], paths: Seq[String])
  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, String), Layout]()

  /** Listing-derived fingerprint of the source parquet, so a fixture
    * rewrite within one session invalidates the memo (same contract
    * as LlmData.dataFingerprint).
    */
  private def fingerprint(s: SparkSession, path: String): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    val files = if (root.isDirectory) fs.listStatus(p) else Array(root)
    files.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
  }

  private def sessionKey(s: SparkSession): String =
    s.sparkContext.applicationId + "@" + System.identityHashCode(s)

  private def deleteLocalDir(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
      try {
        it.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      } finally it.close()
    }
  }

  /** Drops the layout memo, its catalog entries, and the backing temp
    * directories — the bench calls this between warmup and timed
    * passes so the timed pass pays each layout build exactly once on
    * its named artifact row.
    */
  private[graft] def clearLayoutArtifacts(): Unit = {
    val it = layouts.values.iterator()
    while (it.hasNext) {
      val l = it.next()
      l.tables.foreach(t =>
        try l.session.sql(s"DROP TABLE IF EXISTS $t")
        catch { case _: Exception => () })
      l.paths.foreach(deleteLocalDir)
    }
    layouts.clear()
  }

  private def layout(s: SparkSession, dir: String, kind: String, srcTable: String)
                    (build: String => Layout): Layout = {
    val key = (sessionKey(s), dir, kind, fingerprint(s, s"$dir/$srcTable.parquet"))
    layouts.computeIfAbsent(key, _ => {
      val p = java.nio.file.Files.createTempDirectory(s"graft-layout-$kind-").toString
      build(p)
    })
  }

  /** Short collision-safe suffix so the catalog names of two scale
    * factors (or two fixture generations) never clash in one session.
    */
  private def suffix(key: String): String =
    java.lang.Long.toHexString(key.hashCode.toLong & 0xffffffffL)

  // ===== bucketed layout: orders + customer co-bucketed on custkey =====

  /** Bucket count for the co-located join layout. 8 buckets at
    * fixture scale; at 100 TB the same code runs with a bucket count
    * sized to (table size / target partition size) — the layout's
    * properties (hash co-location, one sorted file per bucket via the
    * aligned repartition below) are count-independent.
    */
  private val Buckets = 8

  /** External bucketed copies of orders and customer, both bucketed
    * AND sorted on their custkey — the ingest-time layout that lets
    * every subsequent orders⋈customer run as a zero-exchange,
    * zero-sort merge join. The repartition before write aligns write
    * tasks with bucket hashing (same murmur3 HashPartitioning), so
    * each bucket is exactly ONE sorted file — the shape Spark's
    * scan-side sort elimination requires.
    */
  private[graft] def bucketedTables(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val l = layout(s, dir, "bucketed", "orders") { tmp =>
      val sfx = suffix(sessionKey(s) + dir)
      val ot = s"graft_b_orders_$sfx"
      val ct = s"graft_b_customer_$sfx"
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $ct")
      orders(s, dir)
        .repartition(Buckets, col("o_custkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(Buckets, "o_custkey").sortBy("o_custkey")
        .option("path", s"$tmp/orders")
        .saveAsTable(ot)
      customer(s, dir)
        .repartition(Buckets, col("c_custkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(Buckets, "c_custkey").sortBy("c_custkey")
        .option("path", s"$tmp/customer")
        .saveAsTable(ct)
      Layout(s, Seq(ot, ct), Seq(tmp))
    }
    (s.table(l.tables.head), s.table(l.tables(1)))
  }

  /** Revenue per market segment over the co-bucketed orders⋈customer.
    * The merge hint pins the join strategy the layout exists for: a
    * sort-merge join whose BOTH inputs are already hash-co-located
    * and sorted on disk — zero exchanges, zero sorts below the join
    * at ANY scale (PlanShapeSpec pins the exchange count; the only
    * shuffles in the whole plan are the 5-key segment aggregate and
    * the output sort). Without the bucketed layout the same join
    * shuffles both inputs end-to-end — at 100 TB, the difference
    * between moving nothing and moving the fact table.
    */
  def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (bOrders, bCustomer) = bucketedTables(s, dir)
    bOrders.hint("merge")
      .join(bCustomer.hint("merge"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        outD(sum(d2(col("o_totalprice")))).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  // ===== partitioned layout: customer partitioned by nation =====

  /** Customer re-laid-out as a hive-partitioned directory tree on
    * c_nationkey (25 partitions) via the ScaleOps compacted write
    * (one file per partition, sorted by custkey within). Read back
    * with the ORIGINAL schema passed explicitly, so the partition
    * column keeps its fixture type (partition-value inference would
    * otherwise re-type it from the directory strings) and the oracle
    * type compare stays exact.
    */
  private[graft] def partitionedCustomer(s: SparkSession, dir: String): DataFrame = {
    val schema = customer(s, dir).schema
    val l = layout(s, dir, "partcust", "customer") { tmp =>
      ScaleOps.writePartitioned(
        customer(s, dir), s"$tmp/customer", "c_nationkey", Seq("c_custkey"))
      Layout(s, Seq.empty, Seq(tmp))
    }
    s.read.schema(schema).parquet(s"${l.paths.head}/customer")
  }

  /** Static partition pruning: a literal predicate on the partition
    * column reaches the scan as a PartitionFilter, so only 2 of the
    * 25 nation directories are listed/read — no data-file IO outside
    * them at any table size (ScaleOpsSpec asserts the scan's
    * selected-partition count AND that every input file sits under
    * the two matching directories).
    */
  def qScanPartitionPrune(s: SparkSession, dir: String): DataFrame =
    partitionedCustomer(s, dir)
      .filter(col("c_nationkey").isin(7, 11))
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_cust"),
        outD(sum(d2(col("c_acctbal")))).as("sum_bal"))
      .orderBy("c_nationkey")

  /** Dynamic partition pruning: the filter that selects which fact
    * partitions to read is NOT a literal — it arrives through the
    * nation⋈region dim join (r_name = 'ASIA' → 5 of 25 nations).
    * Spark plants a dynamicpruningexpression on the partitioned scan,
    * reusing the broadcast dim to prune fact directories at runtime —
    * the mechanism that makes "join a 100 TB date-partitioned fact to
    * a filtered dim" read only the matching days. ScaleOpsSpec
    * asserts the pruning subquery is present in the plan and that the
    * scan reads 5 partitions, not 25.
    */
  def qJoinDpp(s: SparkSession, dir: String): DataFrame = {
    val dim = nation(s, dir)
      .join(region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select("n_nationkey", "n_name")
    partitionedCustomer(s, dir)
      .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_cust"),
        outD(sum(d2(col("c_acctbal")))).as("sum_bal"),
        round(outD(sum(d2(col("c_acctbal")))) / count(lit(1)), 6).as("avg_bal"))
      .orderBy("n_name")
  }

  // ===== z-ordered layout: lineitem clustered on (l_shipdate, l_extendedprice) =====

  /** Morton/Z-value of two 16-bit bucket columns: bit i of `a` lands
    * at position 2i and bit i of `b` at 2i + 1, so CONTIGUOUS ranges
    * of the 1-D sort key are 2-D boxes — sorting by it keeps row-group
    * min/max statistics tight on BOTH columns at once. This is the
    * Delta/Iceberg OPTIMIZE ZORDER mechanism: a single-column sort
    * prunes one dimension perfectly and the other not at all; the
    * z-curve trades a little of each for pruning on every clustered
    * dimension. All plain bitwise ops — whole-stage codegen keeps the
    * key computation in the write pipeline.
    */
  private def spread16(c: Column): Column = {
    val m0 = c.bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }
  private[graft] def zValue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** File count of the clustered rewrite. 16 one-row-group files at
    * fixture scale; at 100 TB the same code runs with file count =
    * table size / target file size — the z-curve's pruning property
    * is count-independent (more files = finer boxes).
    */
  private val ZFiles = 16

  /** Lineitem rewritten in z-order on (l_shipdate, l_extendedprice):
    * each dimension linearly bucketed to 16 bits against its corpus
    * min/max (one tiny broadcast agg), rows range-partitioned and
    * sorted by the interleaved z-value, written as ZFiles files whose
    * row groups are 2-D boxes. A predicate bounding BOTH columns then
    * skips every row group whose box misses it — at 100 TB, the
    * difference between scanning a date-price slice and scanning the
    * fact table. The read-back passes the ORIGINAL schema (the
    * partitionedCustomer rule) and the z helper columns never reach
    * disk.
    */
  private[graft] def zorderedLineitem(s: SparkSession, dir: String): DataFrame = {
    // The clustered copy stores l_shipdate as an INSTANT timestamp
    // (LTZ) — wall-clock identical to the fixture's NTZ under the
    // pinned UTC session (the EventStreams.readEvents rule), and
    // necessary for the layout to WORK: parquet row-group statistics
    // filtering is disabled for TIMESTAMP_NTZ columns (measured: an
    // NTZ z-layout pruned only the price dimension), so an NTZ copy
    // would silently lose half the z-curve's point. The query output
    // is an aggregate, so the oracle type contract is untouched.
    val schema = org.apache.spark.sql.types.StructType(
      lineitem(s, dir).schema.fields.map(f =>
        if (f.name == "l_shipdate")
          f.copy(dataType = org.apache.spark.sql.types.TimestampType)
        else f))
    val l = layout(s, dir, "zorder", "lineitem") { tmp =>
      val li = lineitem(s, dir)
        .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      val shipUs = unix_micros(col("l_shipdate"))
      val mm = li.agg(
        min(shipUs).as("dlo"), max(shipUs).as("dhi"),
        min(col("l_extendedprice")).as("plo"),
        max(col("l_extendedprice")).as("phi"))
      def bucket(c: Column, lo: Column, hi: Column): Column =
        ((c - lo).cast("double") / greatest((hi - lo).cast("double"), lit(1.0)) *
          lit(65535.0)).cast("long")
      // Spark's default parquet timestamp encoding is INT96, which
      // carries NO row-group statistics (measured: stats=None, zero
      // date pruning) — the clustered copy must write TIMESTAMP_MICROS
      // or the date half of the z-curve is dead weight
      val tsTypeKey = "spark.sql.parquet.outputTimestampType"
      val prevTsType = s.conf.get(tsTypeKey)
      s.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
      try {
        li.crossJoin(broadcast(mm))
          .withColumn("z", zValue(
            bucket(shipUs, col("dlo"), col("dhi")),
            bucket(col("l_extendedprice"), col("plo"), col("phi"))))
          .repartitionByRange(ZFiles, col("z"))
          .sortWithinPartitions("z")
          .select(schema.fieldNames.map(col).toSeq: _*)
          .write.mode("overwrite").parquet(s"$tmp/lineitem")
      } finally s.conf.set(tsTypeKey, prevTsType)
      Layout(s, Seq.empty, Seq(tmp))
    }
    s.read.schema(schema).parquet(s"${l.paths.head}/lineitem")
  }

  /** 2-D box scan over the z-ordered lineitem: a six-month shipdate
    * window × a price band, aggregated. The oracle is the same box
    * over the RAW table — layout-independence proven by hash, while
    * LayoutOpsSpec pins the runtime pruning evidence (the z-ordered
    * scan's numOutputRows is a fraction of the table; the unclustered
    * copy reads everything).
    */
  def qScanZorder(s: SparkSession, dir: String): DataFrame =
    zorderedLineitem(s, dir)
      .filter(col("l_shipdate") >= graft.Tables.dateLit("1996-01-01") &&
        col("l_shipdate") < graft.Tables.dateLit("1996-07-01") &&
        col("l_extendedprice").between(20000.0, 30000.0))
      .agg(
        count(lit(1)).as("n_rows"),
        outD(sum(d2(col("l_extendedprice")))).as("sum_price"),
        outD(sum(d2(col("l_quantity")))).as("sum_qty"))

  // ===== registry =====

  /** This module's queries, each with its oracle (see [[Query]]). */
  val registry: Seq[Query] = Seq(
    Query("q_join_bucketed", qJoinBucketed, Sql(
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),
    Query("q_scan_partition_prune", qScanPartitionPrune, Sql(
      """SELECT c_nationkey, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |WHERE c_nationkey IN (7, 11)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),
    Query("q_join_dpp", qJoinDpp, Sql(
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),
    Query("q_scan_zorder", qScanZorder, Sql(
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-07-01'
        |  AND l_extendedprice BETWEEN 20000.0 AND 30000.0""".stripMargin)))
}
