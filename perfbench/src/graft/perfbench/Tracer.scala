package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark execution-layer counters for the traced half of a run: tasks,
  * stages, task busy time, GC, shuffle and spill bytes, summed from
  * task-end events. Snapshots drain the listener bus first.
  */
class Tracer(spark: SparkSession) extends SparkListener {
  private val tasks, stages, runMs, gcMs, shW, shR, spill = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  def snap(): Tracer.Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    Tracer.Counters(tasks.get, stages.get, runMs.get, gcMs.get, shW.get, shR.get, spill.get)
  }

  /** Runs `f` and returns its result with the counters it moved. */
  def around[A](f: => A): (A, Tracer.Counters) = {
    val before = snap()
    val r = f
    (r, snap() - before)
  }
}

object Tracer {
  final case class Counters(tasks: Long, stages: Long, runMs: Long, gcMs: Long,
                            shuffleWrite: Long, shuffleRead: Long, spill: Long) {
    def -(o: Counters): Counters = Counters(tasks - o.tasks, stages - o.stages,
      runMs - o.runMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill)
    def +(o: Counters): Counters = Counters(tasks + o.tasks, stages + o.stages,
      runMs + o.runMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
      shuffleRead + o.shuffleRead, spill + o.spill)
    def toMap: Map[String, Long] = Map("tasks" -> tasks, "stages" -> stages,
      "task_run_ms" -> runMs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill)
  }
}
