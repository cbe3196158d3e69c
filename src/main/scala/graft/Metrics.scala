package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
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

  /** The Spark jobs one window started, in start order, each named by
    * its call site (the name of its final stage, e.g. `count at
    * RcmModeling.scala:160`). */
  final case class JobCount(sites: Seq[String]) {
    def jobs: Int = sites.size
  }

  /** Run `body` and return (result, every job started during it). The
    * bus is drained before the listener is added, so no earlier job's
    * event lands in the window, and again after `body`, so none of its
    * own is missed. Every job counts, whatever its thread or job group
    * (a job-group filter would miss stream threads' jobs); serialize
    * calls per SparkContext, as for [[capture]]. */
  def countJobs[A](spark: SparkSession)(body: => A): (A, JobCount) = {
    val sc = spark.sparkContext
    drainListenerBus(sc)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // a job over zero partitions starts with no stage at all
        val site = j.stageInfos.sortBy(-_.stageId).headOption.map(_.name)
          .orElse(Option(j.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        started.add(j.jobId -> site)
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      drainListenerBus(sc)
      (a, JobCount(started.toArray(Array.empty[(Int, String)]).sortBy(_._1).map(_._2).toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** `listenerBus.waitUntilEmpty()` is `private[spark]`; reach it via
    * reflection (it is the correct drain — events are async), falling
    * back to a bounded sleep if the internal moves in a future Spark. */
  private[graft] def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(500) }
}
