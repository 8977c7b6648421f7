package perfbench

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Cumulative Spark work counters. Registered only in traced runs; read
  * through [[snapshot]], which drains the listener bus first so every
  * event posted before the call is counted. */
final class Counters(sc: SparkContext) extends SparkListener {
  import Counters.Keys

  private val totals = new Array[Long](Keys.size)
  private def add(i: Int, v: Long): Unit = totals(i) += v

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(add(0, 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add(1, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add(2, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(3, m.executorRunTime)
      add(4, m.executorCpuTime / 1000000L)
      add(5, m.jvmGCTime)
      add(6, m.inputMetrics.recordsRead)
      add(7, m.shuffleWriteMetrics.bytesWritten)
      add(8, m.shuffleReadMetrics.totalBytesRead)
      add(9, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(10, m.outputMetrics.bytesWritten)
    }
  }

  sc.addSparkListener(this)

  /** Totals so far, keyed by [[Counters.Keys]]. */
  def snapshot(): Map[String, Long] = {
    BenchBus.drain(sc)
    synchronized(Keys.zip(totals).toMap)
  }
}

object Counters {
  /** jobs, stages, tasks; task run/CPU/GC time (ms); records read by
    * scans; shuffle bytes written/read; spill bytes; bytes written by
    * output tasks (the `ext` scratch parquet — query results are
    * collected, never written). */
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_ms",
    "task_cpu_ms", "gc_ms", "input_records", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "output_bytes")

  val Zero: Map[String, Long] = Keys.map(_ -> 0L).toMap

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    Keys.map(k => k -> (b(k) - a(k))).toMap
}
