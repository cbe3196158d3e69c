package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.operators.{Checkpoints, ParallelJobs}

/** The pin seam's scope rules ([[Checkpoints]]), each on its own, plus
  * the source guard that keeps every pin behind the seam. Pins are
  * compared as persistent-RDD id sets, never counts: the
  * ContextCleaner may drop an earlier suite's dead pin at any time. */
class CheckpointsSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = Sessions.local(4)
  implicit val signaler: Signaler = ThreadSignaler

  private def frame(n: Int): DataFrame = spark.range(n).toDF("id")
  private def live: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def idsOf(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Block-manager bytes of `df`'s checkpoint RDDs, from the public
    * storage report (the seam itself asks the block-manager master).
    * The report is fed by listener events, so the bus is drained
    * first. */
  private def storedBytes(df: DataFrame): BigInt = {
    val ids = idsOf(df)
    Metrics.drainListenerBus(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(i => BigInt(i.memSize + i.diskSize)).sum
  }

  private def sizeOf(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** A pinned join: 2,000 rows whose pre-checkpoint estimate is the
    * product of its sides' sizes. */
  private def joined: DataFrame = frame(2000).join(frame(2000).withColumnRenamed("id", "k"),
    col("id") === col("k") % 2000)

  /** WARN-or-worse messages logged while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("checkpoints-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** Run `body`, return what it returns and the pins it left behind. */
  private def leftBy[T](body: => T): (T, Set[Int]) = {
    val before = live
    val out = body
    (out, live -- before)
  }

  test("a throw releases every pin the scope took") {
    val (_, left) = leftBy {
      intercept[IllegalStateException] {
        Checkpoints.scoped {
          val a = Checkpoints.pin(frame(10))
          Checkpoints.pin(a.filter("id > 3"))
          throw new IllegalStateException("boom")
        }
      }
    }
    assert(left.isEmpty, s"pins survived a throw: $left")
  }

  test("a return releases only the pins its result does not reach") {
    val (out, left) = leftBy {
      Checkpoints.scoped {
        val consumed = Checkpoints.pin(frame(10))
        val reached = Checkpoints.pin(consumed.filter("id % 2 = 0"))
        Checkpoints.pin(frame(5)) // never read again
        reached.filter("id > 2")
      }
    }
    assert(left == idsOf(out), s"left $left, result reaches ${idsOf(out)}")
    assert(out.count() == 3L)
    Checkpoints.releasePinned(out)
    assert((live & left).isEmpty, "releasePinned left the result's pin")
  }

  test("frames inside tuples, case classes, maps, sequences and options reach their pins") {
    case class Model(weights: DataFrame)
    val (out, left) = leftBy {
      Checkpoints.scoped {
        Checkpoints.pin(frame(4)) // unreached
        (Model(Checkpoints.pin(frame(1))), Map("m" -> Checkpoints.pin(frame(2))),
          Seq(Some(Checkpoints.pin(frame(3)))))
      }
    }
    val reached = Seq(out._1.weights, out._2("m"), out._3.head.get)
    assert(left == reached.flatMap(idsOf).toSet)
    reached.foreach(Checkpoints.releasePinned)
  }

  test("reached pins pass to the enclosing scope, which releases them unless its own result reaches them") {
    val (count, left) = leftBy {
      Checkpoints.scoped {
        val inner = Checkpoints.scoped(Checkpoints.pin(frame(6)))
        assert(idsOf(inner).subsetOf(live), "the inner result's pin must outlive the inner scope")
        inner.count()
      }
    }
    assert(count == 6L)
    assert(left.isEmpty, s"the outer scope kept an unreached pin: $left")

    val (out, kept) = leftBy {
      Checkpoints.scoped(Checkpoints.scoped(Checkpoints.pin(frame(7))).filter("id < 3"))
    }
    assert(kept == idsOf(out) && kept.nonEmpty)
    Checkpoints.releasePinned(out)
  }

  test("pins taken in ParallelJobs tasks belong to the caller's scope") {
    val (_, left) = leftBy {
      Checkpoints.scoped {
        ParallelJobs.map(Seq(() => Checkpoints.pin(frame(8)),
          () => Checkpoints.pin(frame(9))), parallelism = 2).map(_.count()).sum
      }
    }
    assert(left.isEmpty, s"pool-thread pins escaped the caller's scope: $left")

    val (outs, kept) = leftBy {
      Checkpoints.scoped {
        ParallelJobs.map(Seq(() => Checkpoints.pin(frame(8)),
          () => Checkpoints.pin(frame(9))), parallelism = 2)
      }
    }
    assert(kept == outs.flatMap(idsOf).toSet && kept.size == 2)
    outs.foreach(Checkpoints.releasePinned)
  }

  test("keep pins survive every scope; a pin's call site is its caller's") {
    val (kept, left) = leftBy {
      Checkpoints.scoped {
        Checkpoints.scoped(Checkpoints.keep(frame(3))).count()
      }
    }
    assert(kept == 3L && left.size == 1, s"keep pin released: $left")
    val rdd = spark.sparkContext.getPersistentRDDs(left.head)
    assert(rdd.toString.contains(" at localCheckpoint at CheckpointsSpec.scala:"), rdd)
    rdd.unpersist(blocking = false)
  }

  test("a pin taken after a join reports its stored bytes, not the join's estimate") {
    val estimate = sizeOf(joined)
    val pinned = Checkpoints.keep(joined)
    try {
      val stored = storedBytes(pinned)
      assert(stored > 0)
      assert(sizeOf(pinned) == stored, s"estimate was $estimate")
      assert(estimate > stored * 1000, s"the join's estimate $estimate is no product of sizes")
    } finally Checkpoints.releasePinned(pinned)
  }

  test("a join against a pin broadcasts it below the threshold and shuffles above it, same rows") {
    val big = frame(200000).withColumnRenamed("id", "k") // 1.6 MB estimate
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val threshold = spark.conf.get(key)
    val pinned = Checkpoints.keep(joined.select(col("id")))
    def run(limit: String) = {
      spark.conf.set(key, limit)
      try {
        val df = big.join(pinned, col("k") === col("id"))
        // the planner's own choice, before AQE's runtime re-planning
        // (which would broadcast a small shuffled side anyway)
        val plan = df.queryExecution.sparkPlan.toString
        (df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq, plan)
      } finally spark.conf.set(key, threshold)
    }
    try {
      val stored = storedBytes(pinned)
      assert(stored > 1024 && stored < BigInt(1 << 20) && sizeOf(big) > BigInt(1 << 20))
      val (broadcastRows, broadcastPlan) = run((1 << 20).toString)
      val (shuffledRows, shuffledPlan) = run("1024")
      assert(broadcastPlan.contains("BroadcastHashJoin"), broadcastPlan)
      assert(shuffledPlan.contains("SortMergeJoin"), shuffledPlan)
      assert(broadcastRows.size == 2000 && broadcastRows == shuffledRows)
    } finally Checkpoints.releasePinned(pinned)
  }

  test("pins of an empty and a zero-partition frame return promptly and measure 0 bytes") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // a frame whose partitions hold no rows stores an empty block per
    // partition; its pin measures those few bytes, as stored
    val emptyPartitions = frame(100).filter(col("id") < 0)
    for (df <- Seq(frame(100).filter(lit(false)), noPartitions, emptyPartitions)) {
      val pinned = failAfter(Span(60, Seconds))(Checkpoints.keep(df))
      val want = if (df eq emptyPartitions) storedBytes(pinned) else BigInt(0)
      assert(sizeOf(pinned) == want, pinned.queryExecution.optimizedPlan)
      assert(want < 1024 && pinned.count() == 0L)
      Checkpoints.releasePinned(pinned)
    }
  }

  test("scopes and releasePinned find and free a measured pin") {
    val (out, left) = leftBy {
      Checkpoints.scoped {
        Checkpoints.pin(joined) // unreached
        Checkpoints.pin(joined.filter(col("id") < 10))
      }
    }
    assert(left == idsOf(out) && left.size == 1, s"left $left")
    assert(sizeOf(out) == storedBytes(out))
    Checkpoints.releasePinned(out)
    assert((live & left).isEmpty, "releasePinned left the measured pin")
  }

  test("seam releases log no lineage WARN; a raw unpersist still does") {
    val lineage = "was locally checkpointed, its lineage has been truncated"
    val seam = warnings {
      val out = Checkpoints.scoped {
        Checkpoints.pin(frame(10)) // released by the scope
        Checkpoints.pin(frame(20))
      }
      Checkpoints.releasePinned(out)
    }
    assert(!seam.exists(_.contains(lineage)), seam.mkString("\n"))
    val kept = Checkpoints.keep(frame(5))
    val raw = warnings(idsOf(kept).foreach(spark.sparkContext.getPersistentRDDs(_).unpersist()))
    assert(raw.exists(_.contains(lineage)), s"the capture saw no raw-unpersist WARN: $raw")
  }

  test("no main source takes a raw localCheckpoint outside Checkpoints") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main),
      s"main source dir not found from ${Paths.get("").toAbsolutePath}")
    val seam = Paths.get("graft", "operators", "Checkpoints.scala")
    val raw = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !main.relativize(p).equals(seam))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if {
              val code = line.trim
              !code.startsWith("//") && !code.startsWith("*") &&
                !code.startsWith("/*") &&
                code.split("//", 2)(0).contains("localCheckpoint(")
            } => s"${main.relativize(p)}:${i + 1}"
        }
      }.toSeq
    assert(raw.isEmpty,
      s"raw localCheckpoint outside operators/Checkpoints.scala: ${raw.mkString(", ")}")
  }
}
