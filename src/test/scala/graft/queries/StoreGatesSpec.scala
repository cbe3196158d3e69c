package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions

/** [[StoreGates]]' lifecycle contract: every temp directory a gate
  * creates is gone when the gate returns OR throws (a fired in-plan
  * assertion must not leak its store on disk), and the purge-identity
  * gate fails with its message when the two servings' row multisets
  * differ. */
class StoreGatesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(2)

  /** A prefix no other test or run shares, so the temp-dir scan below
    * sees only this test's directories. */
  private def uniquePrefix(tag: String): String =
    s"storegates_spec_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Names of the temp-dir entries that start with `prefix`. */
  private def tempEntries(prefix: String): Seq[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toFile
    Option(tmp.list()).toSeq.flatten.filter(_.startsWith(prefix))
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  private def frame(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.toDF("id").withColumn("v", col("id") * 10L)
  }

  test("withTempStore deletes its root when the body returns") {
    var seen = ""
    val out = StoreGates.withTempStore(spark, uniquePrefix("ok")) { root =>
      seen = root
      frame(1L, 2L).write.parquet(s"$root/t")
      spark.read.parquet(s"$root/t").localCheckpoint()
    }
    assert(out.count() == 2L)
    assert(seen.nonEmpty && !Files.exists(Paths.get(seen)))
  }

  test("withTempStore deletes its root when the body throws") {
    var seen = ""
    val err = intercept[IllegalStateException] {
      StoreGates.withTempStore(spark, uniquePrefix("throw")) { root =>
        seen = root
        frame(1L).write.parquet(s"$root/t")
        throw new IllegalStateException("gate fired")
      }
    }
    assert(err.getMessage == "gate fired")
    assert(seen.nonEmpty && !Files.exists(Paths.get(seen)))
  }

  test("withStreamedStore deletes stage, store and checkpoint when serve throws") {
    val prefix = uniquePrefix("stream")
    var during = Seq.empty[String]
    var batches = 0
    val err = intercept[IllegalStateException] {
      StoreGates.withStreamedStore(spark, prefix,
        slices = Seq(frame(1L, 2L), frame(3L)),
        sink = store => (b: DataFrame, id: Long) => {
          batches += 1
          b.write.parquet(s"$store/batch=$id")
        }) { store =>
        during = tempEntries(prefix)
        assert(spark.read.parquet(store).count() == 3L)
        throw new IllegalStateException("serve failed")
      }
    }
    assert(err.getMessage == "serve failed")
    assert(batches == 2, "one micro-batch per staged slice")
    assert(during.size == 3 &&
      Seq("_stage", "_store", "_ckpt").forall(s => during.exists(_.startsWith(prefix + s))),
      s"expected stage, store and checkpoint dirs, saw $during")
    assert(tempEntries(prefix).isEmpty, s"leaked: ${tempEntries(prefix)}")
  }

  test("compactionIdentityGate passes identical multisets through") {
    val masked = frame(1L, 2L, 3L)
    val out = StoreGates.compactionIdentityGate(masked, frame(3L, 1L, 2L), "differs")
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("compactionIdentityGate fails with its message when a row is dropped") {
    val err = intercept[Exception] {
      StoreGates.compactionIdentityGate(frame(1L, 2L, 3L), frame(1L, 2L),
        "purge dropped a row").collect()
    }
    assert(messages(err).contains("purge dropped a row"), messages(err))
  }

  test("compactionIdentityGate fails with its message when a row is duplicated") {
    val err = intercept[Exception] {
      StoreGates.compactionIdentityGate(frame(1L, 2L, 3L), frame(1L, 2L, 3L, 3L),
        "purge duplicated a row").collect()
    }
    assert(messages(err).contains("purge duplicated a row"), messages(err))
  }
}
