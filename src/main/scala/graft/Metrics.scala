package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Measured execution metrics — the audit layer behind the plan-shape
  * claims: PlanSpec pins what the plan SAYS (no exchange, partial
  * aggregation); this measures what an execution DID (shuffle bytes,
  * spill, rows). A "zero-shuffle operator" claim is only complete with
  * a measured 0 next to it (MetricsSpec pins several), and at cluster
  * scale the same capture wraps any job to attribute shuffle volume to
  * a pipeline stage without Spark-UI archaeology.
  */
object Metrics {

  final case class JobMetrics(
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memorySpillBytes: Long, diskSpillBytes: Long,
      inputRecords: Long, stages: Int)

  /** Run `body` and return (result, aggregated stage metrics for every
    * stage completed during it). Listener events are asynchronous —
    * `waitUntilEmpty` drains the bus before reading, so the numbers
    * are complete, not racy. Serialize calls per SparkContext (tests
    * do); concurrent captures would attribute each other's stages. */
  def capture[A](spark: SparkSession)(body: => A): (A, JobMetrics) = {
    val sc = spark.sparkContext
    val read = new java.util.concurrent.atomic.AtomicLong
    val write = new java.util.concurrent.atomic.AtomicLong
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val input = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          input.addAndGet(m.inputMetrics.recordsRead)
        }
        stages.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      drainListenerBus(sc)
      (a, JobMetrics(read.get, write.get, memSpill.get, diskSpill.get,
        input.get, stages.get.toInt))
    } finally sc.removeSparkListener(listener)
  }

  /** `listenerBus.waitUntilEmpty()` is `private[spark]`; reach it via
    * reflection (it is the correct drain — events are async), falling
    * back to a bounded sleep if the internal moves in a future Spark. */
  private def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(500) }
}
