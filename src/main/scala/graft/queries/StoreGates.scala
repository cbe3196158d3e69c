package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The registry's store-gate plumbing, and its only copy: every gate's
  * temp store ([[withTempStore]]), streamed ingest
  * ([[withStreamedStore]]) and in-plan purge/compaction identity
  * assertion ([[compactionIdentityGate]], q180's discipline) goes
  * through here, so cleanup is guaranteed even when the assertion
  * fires. (`WindowQueries`' stage outlives one body and keeps its own
  * lifecycle; arrival-order-sensitive streams stage through
  * [[PinnedMtimeStager]].)
  */
private[queries] object StoreGates {

  /** Temp store root with GUARANTEED cleanup: the Hadoop-FS delete of
    * the root runs even when the in-plan equality gate (or any Spark
    * action inside `body`) throws — a failed gate must not leak the
    * store directory on disk. Safe because every serving call inside
    * pins its result ([[graft.operators.Checkpoints]]) before `body`
    * returns. */
  def withTempStore(s: SparkSession, prefix: String)(
      body: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(root)
    finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /** Streamed-ingest gate plumbing: stage each slice as one parquet
    * file, deliver them one per micro-batch through the checkpointed
    * file source into the store's exactly-once `foreachBatch` sink,
    * serve from the completed store, and clean up stage + store +
    * checkpoint (also when `serve` throws) — the serve result must be
    * pinned by `serve` (every FromStore serving call does) since the
    * dirs are deleted on return. */
  def withStreamedStore(s: SparkSession, prefix: String,
      slices: Seq[DataFrame], sink: String => (DataFrame, Long) => Unit)(
      serve: String => DataFrame): DataFrame = {
    require(slices.nonEmpty, "need at least one slice")
    val stage = java.nio.file.Files.createTempDirectory(s"${prefix}_stage").toString
    val store = java.nio.file.Files.createTempDirectory(s"${prefix}_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory(s"${prefix}_ckpt").toString
    try {
      slices.foreach(_.coalesce(1).write.mode("append").parquet(stage))
      drainFileStream(s, slices.head.schema, stage, ckpt)(sink(store))
      serve(store)
    } finally {
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(s.sessionState.newHadoopConf())
      Seq(stage, store, ckpt).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
    }
  }

  /** Run a one-file-per-trigger parquet file stream over `stage`
    * through the `foreachBatch` sink `snk` until everything staged is
    * processed, checkpointing at `ckpt` (a restart resumes from it). */
  private[queries] def drainFileStream(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType, stage: String,
      ckpt: String)(snk: (DataFrame, Long) => Unit): Unit = {
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => snk(b, id))
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Ordered slice staging for file-source streams where ARRIVAL
    * ORDER is semantic (curation dedup keeps first arrival,
    * incremental packing lays slices out in commit order — unlike the
    * order-free count-store sinks): each newly staged file's mtime is
    * pinned to `baseT + arrivalIdx·1s`, so the source's
    * (mtime, path) processing order equals staging order across
    * restarts. Plain sequential writes can land same-millisecond
    * mtimes and the source then orders by path — random part names.
    * Real write times are ~an hour above `baseT`, so pinned and
    * unpinned files never confuse; the arrival index persists across
    * [[stageSlice]] calls (the kill/restart harnesses stage more
    * slices into the same directory). */
  final class PinnedMtimeStager(s: SparkSession, val stage: String) {
    private val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(s.sessionState.newHadoopConf())
    private val baseT = System.currentTimeMillis() - 3600000L
    private var nextIdx = 0
    def stageSlice(df: DataFrame): Unit = {
      df.coalesce(1).write.mode("append").parquet(stage)
      fs.listStatus(new org.apache.hadoop.fs.Path(stage)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .filter(_.getModificationTime > baseT + 1800000L) // unpinned
        .sortBy(st => (st.getModificationTime, st.getPath.getName))
        .foreach { st =>
          fs.setTimes(st.getPath, baseT + nextIdx * 1000L, -1)
          nextIdx += 1
        }
    }
  }

  /** In-plan pre/post-compaction equality gate: asserts `masked` and
    * `compacted` are row-multiset-identical — every distinct row
    * appears exactly twice in their union and the group count matches
    * — returning `compacted`'s rows with the assertion fused into the
    * plan. */
  def compactionIdentityGate(masked: DataFrame,
      compacted: DataFrame, msg: String): DataFrame = {
    val eq = masked.union(compacted)
      .groupBy(compacted.columns.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("mn"), max(col("n")).as("mx"),
        count(lit(1)).as("groups"))
    compacted.crossJoin(broadcast(eq))
      .filter(assert_true(
        col("mn") === 2 && col("mx") === 2 && col("groups") === masked.count(),
        lit(msg)).isNull)
      .select(compacted.columns.map(col): _*)
  }
}
