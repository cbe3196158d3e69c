package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Checkpoints, ParallelJobs}

/** The pin seam's scope rules ([[Checkpoints]]), each on its own, plus
  * the source guard that keeps every pin behind the seam. Pins are
  * compared as persistent-RDD id sets, never counts: the
  * ContextCleaner may drop an earlier suite's dead pin at any time. */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  private def frame(n: Int): DataFrame = spark.range(n).toDF("id")
  private def live: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def idsOf(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

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
