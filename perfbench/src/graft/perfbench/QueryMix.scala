package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Sixteen registry queries from the relational, event, LLM-data and
  * LIME modules, run in a fixed order and each collected in full. Every
  * pass starts cold: Spark's cache and the engine's fitted-artifact
  * caches are cleared first.
  *
  * Checks: the last pass's output of every query with an oracle is
  * dumped as parquet next to `oracle_sql.json`, for the DuckDB compare
  * that run.py starts; the two no-oracle LIME rows must have rows and
  * return identical output on every pass. `--mutate <query>` shifts
  * the first numeric column of that query's dump by +1 (the
  * `graft.Verify` canary), which must fail the run.
  */
class QueryMix(a: Main.Args) extends Workload {

  private val modules: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q_tpch_q21", "q_tpch_q18", "q_agg_hash"),
    "eventops" -> Seq("q_join_interval", "q_ev_cooccur", "q_ev_concurrency", "q_graph_pagerank"),
    "llmdata" -> Seq("q_text_keywords", "q_text_bpe_apply", "q_text_fingerprint",
      "q_dedup_contain", "q_dedup_minhash", "q_emb_knn_ann", "q_emb_silhouette"),
    "limeops" -> Seq("lime_explain_text", "lime_image"))
  private val names = modules.flatMap(_._2)
  private val moduleOf = modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
  private val noOracle = names.filterNot(SparkEntry.oracleSql.contains)

  private var spark: SparkSession = _
  private val last = mutable.Map.empty[String, (Array[Row], StructType)]
  private val signatures = mutable.Map.empty[String, mutable.Set[Seq[String]]]

  a.mutate.foreach { q =>
    require(names.contains(q) && !noOracle.contains(q),
      s"mutation target must be one of the oracle-checked queries, got $q")
  }

  def prepare(s: SparkSession): Unit = {
    spark = s
    last.clear()
    signatures.clear()
  }

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    graft.operators.LimeOps.clearStatsCache()
    graft.operators.LlmData.clearDedupArtifacts()
    graft.operators.LayoutOps.clearLayoutArtifacts()
  }

  private def runQuery(q: String): (Array[Row], StructType) = {
    val df = SparkEntry.queries(q)(spark, a.data)
    (df.collect(), df.schema)
  }

  // one warm-up pass: every query compiled once
  def warmupSeconds: Double = 0.0

  def run(i: Int, tracer: Option[Tracer]): Main.Outcome = {
    val failures = mutable.ArrayBuffer.empty[Main.Failure]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val groups = mutable.Map.empty[String, Tracer.Counters]
    val before = tracer.map(_.snap())
    val cpu0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    val (_, clear) = Main.time(clearCaches())
    layers("clear_s") = clear
    names.foreach { q =>
      val q0 = tracer.map(_.snap())
      try {
        val ((rows, schema), t) = Main.time(runQuery(q))
        layers(s"${q}_s") = t
        last(q) = (rows, schema)
        if (noOracle.contains(q))
          signatures.getOrElseUpdate(q, mutable.Set.empty) += rows.map(_.toString).toSeq.sorted
      } catch {
        case NonFatal(e) => failures += Main.failure(q, e)
      }
      for (t <- tracer; b <- q0) {
        val d = t.snap() - b
        val m = moduleOf(q)
        groups(m) = groups.get(m).fold(d)(g => g + d)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.cpuSeconds() - cpu0
    val counters = for (t <- tracer; b <- before) yield t.snap() - b
    modules.foreach { case (m, qs) =>
      layers(s"${m}_s") = qs.flatMap(q => layers.get(s"${q}_s")).sum
    }
    val op =
      if (failures.nonEmpty) None
      else Some(Main.Op(wall, cpu, names.size, layers.toMap, counters, groups.toMap))
    Main.Outcome(op, names.size, failures.toSeq)
  }

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    noOracle.foreach { q =>
      last.get(q) match {
        case None => errs += s"$q: no completed run"
        case Some((rows, _)) =>
          if (rows.isEmpty) errs += s"$q: no rows"
          if (signatures(q).size != 1) errs += s"$q: output differs across passes"
      }
    }
    val dump = java.nio.file.Paths.get(a.out, "dump")
    val oracle = names.filterNot(noOracle.contains).flatMap { q =>
      last.get(q).map { case (rows, schema) =>
        a.mutate.filter(_ == q).foreach(System.setProperty("graft.verify.mutate", _))
        val df = graft.Verify.mutate(q, spark.createDataFrame(rows.toSeq.asJava, schema))
        df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
        q -> SparkEntry.oracleSql(q)
      }
    }.toMap
    java.nio.file.Files.createDirectories(dump)
    java.nio.file.Files.writeString(dump.resolve("oracle_sql.json"), Json.write(oracle))
    errs.toSeq
  }

  override def extra: Map[String, Any] = Map(
    "oracle_queries" -> names.filterNot(noOracle.contains),
    "modules" -> modules.toMap)
}
