package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark JVM: runs ONE workload and writes its raw measurements to
  * `<out>/result.json`; `perfbench/run.py` builds this program, starts
  * it, runs the oracle compare and turns the raw numbers into metrics.
  *
  * Protocol of one run:
  *   1. set up `setupReps` times (session start + workload prepare:
  *      model fit, instance pool); every repetition but the last stops
  *      its session, so each one pays the full set-up;
  *   2. warm-up: untimed operations for a few seconds so the JIT
  *      settles, then the window-health control (a fixed CPU-bound
  *      Spark job);
  *   3. closed loop, one client thread, for `seconds`; with `--trace 1`
  *      the first half runs untraced and the second half traced (the
  *      listener attached and the layer prefixes materialized after
  *      each operation), so the tracing overhead is measured in-run;
  *   4. the control again, then the correctness checks (untimed).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: String, cpus: Int, setupReps: Int,
                        mutate: Option[String])

  /** One timed operation: wall time, the items it produced
    * (explanations or queries), per-layer seconds, the listener delta
    * over its timed part, and per-group listener deltas.
    */
  final case class Op(wall: Double, cpu: Double, items: Int, layers: Map[String, Double],
                      spark: Option[Tracer.Counters],
                      groups: Map[String, Tracer.Counters] = Map.empty)

  final case class Failure(op: String, cls: String, msg: String)

  /** What one closed-loop step returns: the op's timing when every part
    * of it succeeded (a failed operation never contributes a time), the
    * attempts it made and the failures among them.
    */
  final case class Outcome(op: Option[Op], attempts: Int, failures: Seq[Failure])

  def failure(op: String, e: Throwable): Failure =
    Failure(op, e.getClass.getName, String.valueOf(e.getMessage).take(500))

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the whole JVM has used: Spark tasks, the driver, GC
    * and JIT threads. Unlike wall time it does not grow while the host
    * runs other tenants' work on this machine's cores.
    */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private val heap = java.lang.management.ManagementFactory.getMemoryMXBean

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), req("out"), req("cpus").toInt,
      kv.getOrElse("setup-reps", "3").toInt, kv.get("mutate").filter(_.nonEmpty))
  }

  /** The fixed CPU-bound control job: hashing and summing a range, no
    * I/O and no shuffle beyond the one-row final aggregate.
    */
  private def control(spark: SparkSession, cpus: Int): Double = {
    val runs = (0 until 4).map { _ =>
      time(spark.range(0L, 60000000L, 1L, cpus)
        .selectExpr("sum(xxhash64(id) % 1000) AS s").collect())._2
    }
    runs.drop(1).sorted.apply(1) // the first run warms the code path
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "lime_tabular" => new LimeWorkload.Tabular(a)
      case "lime_batch" => new LimeWorkload.Batch(a)
      case "query_mix" => new QueryMix(a)
      case other => sys.error(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = a.workload
    out("seed") = a.seed
    out("cores") = a.cpus
    out("box") = Map(
      "os" -> s"${sys.props("os.name")} ${sys.props("os.version")} ${sys.props("os.arch")}",
      "jvm" -> sys.props("java.vm.version"),
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory())

    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    for (_ <- 0 until a.setupReps) {
      if (spark != null) spark.stop()
      val (s, session) = time {
        val s = graft.Sessions.local(a.cpus.toString)
        s.sparkContext.setLogLevel("WARN")
        s
      }
      val (_, prepare) = time(wl.prepare(s))
      spark = s
      setups += Map("session_s" -> session, "prepare_s" -> prepare,
        "total_s" -> (session + prepare))
    }
    out("setup") = setups.toSeq
    out("notes") = wl.notes

    // warm-up: untimed operations until the JIT has compiled the hot paths
    val warmupEnd = System.nanoTime() + (wl.warmupSeconds * 1e9).toLong
    var warmed = 0
    do { wl.run(-1000 - warmed, None); warmed += 1 } while (System.nanoTime() < warmupEnd)
    out("warmup_ops") = warmed
    System.gc()

    out("control_start_s") = control(spark, a.cpus)
    val failures = mutable.ArrayBuffer.empty[Failure]
    var attempted = 0
    var heapMax = 0L // heap in use, sampled after each timed operation
    def loop(seconds: Double, tracer: Option[Tracer], first: Int): Seq[Op] = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = first
      while (System.nanoTime() < deadline) {
        val o = wl.run(i, tracer)
        attempted += o.attempts
        failures ++= o.failures
        ops ++= o.op
        heapMax = math.max(heapMax, heap.getHeapMemoryUsage.getUsed)
        i += 1
      }
      ops.toSeq
    }
    val untraced = loop(if (a.trace) a.seconds / 2 else a.seconds, None, 0)
    val traced =
      if (!a.trace) Nil
      else {
        val tr = new Tracer(spark)
        spark.sparkContext.addSparkListener(tr)
        try loop(a.seconds / 2, Some(tr), 1000000)
        finally spark.sparkContext.removeSparkListener(tr)
      }
    out("control_end_s") = control(spark, a.cpus)
    out("heap_used_max_bytes") = heapMax
    out("ops") = untraced.map(opJson)
    out("traced_ops") = traced.map(opJson)

    val checkFailures =
      try wl.check()
      catch { case NonFatal(e) => Seq(s"check crashed: ${e.getClass.getName}: ${e.getMessage}") }
    out("extra") = wl.extra
    out("attempted") = attempted
    out("failures") = failures.map(f =>
      Map("op" -> f.op, "class" -> f.cls, "message" -> f.msg)).toSeq
    out("check_failures") = checkFailures
    spark.stop()
    Files.writeString(Paths.get(a.out, "result.json"), Json.write(out))
  }

  private def opJson(o: Op): Map[String, Any] = Map(
    "wall_s" -> o.wall, "cpu_s" -> o.cpu, "items" -> o.items, "layers" -> o.layers,
    "spark" -> o.spark.map(_.toMap).orNull,
    "groups" -> o.groups.map { case (k, v) => k -> v.toMap })
}

/** A workload: set-up, one closed-loop operation, and the untimed
  * correctness checks over everything the timed operations returned.
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  /** Seconds of untimed operations after set-up, before the window
    * opens (at least one runs): LIME request latency keeps falling for
    * several requests after set-up while the JIT compiles the hot paths.
    */
  def warmupSeconds: Double
  /** The i-th closed-loop operation. */
  def run(i: Int, tracer: Option[Tracer]): Main.Outcome
  def check(): Seq[String]
  def notes: Seq[String] = Nil
  def extra: Map[String, Any] = Map.empty
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
