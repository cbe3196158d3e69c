package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work observed while one span was innermost. */
final class Counts {
  var jobs, tasks, taskMs, shuffleBytes, spillBytes, pinnedBytes = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    pinnedBytes += o.pinnedBytes
  }
}

/** One closed span. `wallMs` is exclusive of child spans, and so are
  * the counts: work is billed to the innermost open span only. */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: Option[String], iteration: Int, wallMs: Double, counts: Counts)

/** Records spans around the benchmark's calls into the library, and
  * attributes the listener's events to them. The top-level spans of a
  * workload never overlap (one client thread, closed loop), so the
  * span that is innermost when an event is delivered owns it; the bus
  * is drained at every span boundary so no event crosses one.
  *
  * The listener is attached only between [[beginIteration]] and
  * [[endIteration]], so untraced iterations of a traced run pay for it
  * no more than a timed run does. With `enabled = false` [[span]] only
  * runs its body and no listener is ever attached. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val closed = mutable.ArrayBuffer[Span]()
  private final class Open(val name: String, val t0: Long, val counts: Counts) {
    var childNs = 0L
  }
  private val stack = mutable.ArrayBuffer[Open]()
  private val origin = System.nanoTime()
  @volatile private var current: Counts = new Counts // work outside any span
  var iteration = 0

  // live RDD blocks -> (bytes, the span that added them)
  private val blocks = mutable.HashMap[String, (Long, Counts)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = bill(_.jobs += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) bill { c =>
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) blocks.synchronized {
        val key = info.blockId.name
        if (info.storageLevel.isValid) {
          val owner = blocks.get(key).map(_._2).getOrElse(current)
          blocks(key) = (info.memSize + info.diskSize, owner)
        } else blocks.remove(key)
      }
    }
  }

  private def bill(f: Counts => Unit): Unit = {
    val c = current
    c.synchronized(f(c))
  }

  private def drain(): Unit = if (enabled) PerfbenchAccess.drainListenerBus(sc)

  private def ms(ns: Long): Double = (ns - origin) / 1e6

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    drain()
    val o = new Open(name, System.nanoTime(), new Counts)
    stack.synchronized { stack += o }
    current = o.counts
    try body
    finally {
      drain()
      val t1 = System.nanoTime()
      o.counts.pinnedBytes = blocks.synchronized {
        blocks.valuesIterator.collect { case (b, owner) if owner eq o.counts => b }.sum
      }
      stack.synchronized {
        stack.remove(stack.length - 1)
        val parent = stack.lastOption
        parent.foreach(_.childNs += t1 - o.t0)
        current = parent.map(_.counts).getOrElse(new Counts)
        closed += Span(name, ms(o.t0), ms(t1), parent.map(_.name), iteration,
          (t1 - o.t0 - o.childNs) / 1e6, o.counts)
      }
    }
  }

  /** Starts a traced iteration: attaches the listener, and later spans
    * carry the new iteration's id. */
  def beginIteration(): Unit = if (enabled) {
    iteration += 1
    blocks.synchronized(blocks.clear())
    sc.addSparkListener(listener)
  }

  /** Ends a traced iteration: delivers its last events, then detaches
    * the listener. */
  def endIteration(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
  }

  def spans: Seq[Span] = stack.synchronized(closed.toList)
}

/** End-to-end resource probes that need no listener: peak heap after
  * GC (from the collectors' notifications), peak block-store memory
  * from a 10 ms sampler, and GC time from the collectors' counters. */
final class ResourceProbe {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile private var lastLive = 0L
  @volatile private var peakLive = 0L
  @volatile private var peakStorage = 0L
  @volatile private var running = true

  private val onGc: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      lastLive = live
      if (live > peakLive) peakLive = live
    }
  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ => ()
  }

  private val sampler = new Thread(() => {
    while (running) {
      val used = PerfbenchAccess.storageMemoryUsed
      if (used > peakStorage) peakStorage = used
      Thread.sleep(10)
    }
  }, "perfbench-storage-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Resets the peaks; call at the start of an iteration. */
  def reset(): Unit = {
    peakLive = lastLive
    peakStorage = PerfbenchAccess.storageMemoryUsed
  }
  /** Largest heap left after any GC since [[reset]]. */
  def peakHeapBytes: Long = peakLive
  def peakStorageBytes: Long = math.max(peakStorage, PerfbenchAccess.storageMemoryUsed)
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  def stop(): Unit = {
    running = false
    sampler.join()
    gcs.foreach {
      case e: NotificationEmitter => e.removeNotificationListener(onGc)
      case _ => ()
    }
  }
}
