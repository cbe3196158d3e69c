package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BatchStore, FeatureHashing}

/** [[BatchStore.epochSink]]'s exactly-once epoch rule: epoch `e`
  * commits `root/batch=<1+e>`, and a replay of a committed epoch
  * writes nothing — the store's files and rows stay as they were. */
class BatchStoreEpochSinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(2)

  /** Every file under `root` with its size and mtime. */
  private def files(root: File): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(root).map(f => root.toPath.relativize(f.toPath).toString ->
      ((f.length(), f.lastModified()))).toMap
  }

  private def batchDirs(root: File): Seq[String] =
    root.list().toSeq.filter(_.startsWith("batch=")).sorted

  private def rows(root: String): Seq[org.apache.spark.sql.Row] =
    BatchStore.read(spark, root).orderBy(col("batch"), col("id"))
      .collect().toSeq

  private def frame(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.toDF("id").withColumn("v", col("id") * 10L)
  }

  test("epochSink: a replayed committed epoch leaves files and rows unchanged; a fresh epoch commits batch=<1+epochId>") {
    val dir = java.nio.file.Files.createTempDirectory("graft_epoch_sink").toFile
    val root = dir.toString
    var writes = Seq.empty[Long]
    val sink = BatchStore.epochSink(root) { (b, id) =>
      writes :+= id
      BatchStore.append(b, root, id)
    }
    try {
      sink(frame(1, 2, 3), 0L)
      assert(batchDirs(dir) == Seq("batch=1"))
      val (files0, rows0) = (files(dir), rows(root))
      assert(rows0.size == 3)

      // the replay carries different rows on purpose: nothing of it lands
      sink(frame(7, 8), 0L)
      assert(writes == Seq(1L), "a committed epoch's replay must not write")
      assert(files(dir) == files0)
      assert(rows(root) == rows0)

      sink(frame(4, 5), 4L)
      assert(writes == Seq(1L, 5L))
      assert(batchDirs(dir) == Seq("batch=1", "batch=5"))
      assert(rows(root).map(r => (r.getAs[Long]("id"), r.getAs[Int]("batch"))) ==
        Seq((1L, 1), (2L, 1), (3L, 1), (4L, 5), (5L, 5)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("hashedStoreSink: a replayed epoch leaves the store's files unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hashed_sink").toFile
    val root = dir.toString
    val b0 = Seq((1L, "alpha beta gamma"), (2L, "beta delta")).toDF("doc_id", "text")
    val sink = FeatureHashing.hashedStoreSink("doc_id", "text", dim = 64, root)
    try {
      sink(b0, 0L)
      val files0 = files(dir)
      assert(files0.keys.exists(_.startsWith("batch=1")))
      sink(b0, 0L)
      assert(files(dir) == files0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
