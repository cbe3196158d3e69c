package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** The one place that pins frames and releases them.
  *
  * A pin is an eager `localCheckpoint`: its blocks ARE the data, so an
  * unpersist is unrecoverable (lineage is gone) and a pin lives
  * exactly as long as something may still read it.
  *
  * Lifecycle contract:
  *  - [[pin]] registers the pin with the calling thread's open scope.
  *    [[ParallelJobs]] tasks register with their caller's scope.
  *  - [[scoped]] opens a scope. When its body returns, every pin the
  *    scope owns that the result does not REACH is released; the
  *    reached ones pass to the enclosing scope, or to the caller when
  *    there is none. When the body throws, all of them are released.
  *  - Reach is plan reachability: a pin's checkpoint RDD appears in the
  *    analyzed plan (subqueries included) of some frame in the result
  *    — the result itself, or a frame inside tuples, case classes,
  *    collections or options. A frame that reads a pin only through
  *    RDD-level lineage (`zipWithIndex`, `createDataFrame(rdd)`) does
  *    not reach it and must pin itself before its scope ends.
  *  - [[keep]] takes a pin no scope owns ([[ModelCache]] entries);
  *    its owner releases it.
  *  - A pin that is dead before its scope ends on purpose (a loop's
  *    superseded round, a deliberate early release) is released
  *    explicitly with [[releasePinned]].
  *
  * Every registry query, curation epoch, streamed store sink and
  * upsert batch runs in a scope, so a caller that holds a result
  * releases it with [[releasePinned]] once nothing reads it again.
  * [[graft.Bench.releaseBlocks]] is the bench's whole-session sweep
  * between isolated runs, not a release path for operators.
  *
  * Every release (scope end, [[releasePinned]], a [[ModelCache]]
  * eviction) frees the blocks through one path that skips
  * `RDD.unpersist`'s lineage-truncation WARN: a seam release is always
  * deliberate, so the WARN would only bury real ones. An `unpersist`
  * outside the seam still warns.
  *
  * Size: a pin re-enters the plan with its stored bytes (memory plus
  * disk, read from the block-manager master once the checkpoint job
  * has returned; no extra job) as its `sizeInBytes`. The estimate the
  * frame was checkpointed with is not used: for a join it is the
  * product of its sides' sizes (gigabytes, or 10²⁴ bytes, for a
  * megabyte of rows), which kept every pinned join off the broadcast
  * path and every size gate ([[SurrogateKeys.sequentialKeys]]) on its
  * dimension-scale branch. Stored bytes count deserialized rows, so
  * they overstate the serialized size a broadcast ships; they never
  * understate it, even for wide string and array rows, which a
  * row-count × schema-width figure would.
  */
object Checkpoints {

  /** The pins one unit of work took. Synchronized: [[ParallelJobs]]
    * tasks register into their caller's scope concurrently. */
  private[operators] final class Scope {
    private val pins = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    def add(rdds: Seq[RDD[_]]): Unit = synchronized { pins ++= rdds }
    def drain(): Seq[RDD[_]] = synchronized {
      val out = pins.toList
      pins.clear()
      out
    }
  }

  private val open = new ThreadLocal[Scope]

  /** SparkContext's short call-site property (`setCallSite`). */
  private val ShortCallSite = "callSite.short"

  /** The calling thread's open scope (null when none). */
  private[operators] def current: Scope = open.get

  /** Run `body` with `scope` as the thread's open scope: how a
    * [[ParallelJobs]] task takes its pins in its caller's scope. */
  private[operators] def within[T](scope: Scope)(body: => T): T = {
    val prev = open.get
    open.set(scope)
    try body finally open.set(prev)
  }

  /** Eager local checkpoint, owned by the open scope. */
  def pin(df: DataFrame): DataFrame = {
    val (pinned, rdds) = checkpoint(df)
    Option(open.get).foreach(_.add(rdds))
    pinned
  }

  /** Eager local checkpoint that outlives every scope. */
  def keep(df: DataFrame): DataFrame = checkpoint(df)._1

  /** Run `body` in a fresh scope (see the lifecycle contract above). */
  def scoped[T](body: => T): T = {
    val parent = open.get
    val scope = new Scope
    open.set(scope)
    var live = Set.empty[Int]
    try {
      val result = body
      live = reachedIds(result)
      result
    } finally {
      open.set(parent)
      val (reached, dead) = scope.drain().partition(r => live(r.id))
      dead.foreach(GraftBridge.release)
      Option(parent).foreach(_.add(reached))
    }
  }

  /** Release every pin `df`'s plan reaches. Only call once nothing
    * will read the frame again. */
  def releasePinned(df: Dataset[_]): Unit = rddsOf(df).foreach(GraftBridge.release)

  /** The eager checkpoint, re-entered with its stored bytes as its
    * size, with the caller's `file:line` outside this object as the
    * call site of its jobs and RDDs, so leak reports and the Spark UI
    * name the pinning site. (A call site, not an RDD name: a name
    * would show in every plan that scans the pin.) */
  private def checkpoint(df: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val site = Thread.currentThread.getStackTrace.find { f =>
      val c = f.getClassName
      !Seq("graft.operators.Checkpoints", "org.apache.spark.", "scala.",
        "java.", "jdk.").exists(c.startsWith)
    }.fold("pin")(f => s"${f.getFileName}:${f.getLineNumber}")
    val sc = df.sparkSession.sparkContext
    val callSite = sc.getLocalProperty(ShortCallSite)
    sc.setLocalProperty(ShortCallSite, s"localCheckpoint at $site")
    val pinned = try df.localCheckpoint()
      finally sc.setLocalProperty(ShortCallSite, callSite)
    val rdds = rddsOf(pinned)
    (GraftBridge.withSizeInBytes(pinned, rdds.map(GraftBridge.storedBytes).sum), rdds)
  }

  private def rddsOf(df: Dataset[_]): Seq[RDD[_]] = {
    val out = Seq.newBuilder[RDD[_]]
    df.queryExecution.analyzed.foreachWithSubqueries {
      case r: LogicalRDD => out += r.rdd
      case _ => ()
    }
    out.result()
  }

  private def reachedIds(result: Any): Set[Int] = {
    def frames(x: Any): Iterator[Dataset[_]] = x match {
      case d: Dataset[_] => Iterator(d)
      case xs: Iterable[_] => xs.iterator.flatMap(frames)
      case xs: Array[_] => xs.iterator.flatMap(frames)
      case p: Product => p.productIterator.flatMap(frames)
      case _ => Iterator.empty
    }
    frames(result).flatMap(rddsOf).map(_.id).toSet
  }
}
