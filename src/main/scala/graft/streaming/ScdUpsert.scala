package graft.streaming

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Checkpoints, ScdType2, SnapshotCommit}

/** Streaming SCD Type 2 maintenance: dimension snapshots arrive as a
  * stream and each micro-batch merges into the versioned dimension via
  * `foreachBatch` — the Structured-Streaming-native form of the
  * reference's batch rebuild (`python/scd_implementation.py:102-132`;
  * its README lists incremental loading as future work).
  *
  * State layout: the dimension lives as immutable snapshot versions
  * under the [[graft.operators.SnapshotCommit]] protocol (write-once
  * data dirs published by atomic manifest rename); each batch reads
  * the LATEST COMMITTED version strictly below its own batch id,
  * applies the same [[graft.operators.ScdType2]] the batch pipeline
  * uses, and commits a new version. That gives exactly-once semantics
  * without a transactional table format: a retried batch re-reads the
  * same predecessor (its own partial output is uncommitted or above
  * the cutoff, never visible to itself) and republishes its version
  * atomically — a crash at any point, including mid-directory, leaves
  * the previous snapshot fully readable and the partial one invisible.
  * This is classic Delta/Iceberg MERGE territory — the manifest
  * protocol is the dependency-free stand-in, with the same
  * read-committed contract.
  *
  * Scale notes: each merge is the batch SCD2 plan (one id-keyed
  * diff-join shuffle, no single-partition window); snapshot batches
  * must carry at most one row per business id (ScdType2's in-plan
  * guard fails the batch otherwise — dedupe upstream with
  * `dropDuplicatesWithinWatermark` or a latest-wins reduce). Blocks
  * checkpointed inside a batch are released before the next one, so a
  * long-running stream holds O(1) executor storage, not O(batches).
  */
object ScdUpsert {

  /** Data directory of the newest COMMITTED version strictly below
    * `belowBatch` — resolved through [[SnapshotCommit]]'s manifests
    * only, never by listing data dirs: a crashed or in-flight writer's
    * partial directory has no manifest and is invisible here.
    *
    * A dimension written by the PREVIOUS layout (`<dimRoot>/v<N>` with
    * `_SUCCESS` markers, no manifests) fails loudly instead of being
    * silently treated as empty — resuming a stream over unmigrated
    * state would rebuild the dimension from one batch and discard all
    * accumulated SCD2 history. Run [[migrateLegacy]] once first. */
  def latestVersion(spark: SparkSession, dimRoot: String,
      belowBatch: Long = Long.MaxValue): Option[String] = {
    val resolved = SnapshotCommit.latestBelow(spark, dimRoot, belowBatch)
    if (resolved.isEmpty && legacyVersionDirs(spark, dimRoot).nonEmpty)
      throw new IllegalStateException(
        s"$dimRoot holds pre-manifest dimension state (v<N>/_SUCCESS layout) " +
          "but no commit manifests; run ScdUpsert.migrateLegacy(spark, dimRoot) " +
          "before resuming the stream — continuing would silently restart " +
          "the dimension from scratch")
    resolved.map(v => SnapshotCommit.dataPath(spark, dimRoot, v))
  }

  private def legacyVersionDirs(spark: SparkSession,
      dimRoot: String): Seq[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(dimRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.matches("v\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
  }

  /** One-time migration from the pre-manifest layout: each committed
    * legacy `<dimRoot>/v<N>` directory is RENAMED (no data copy) into
    * the [[SnapshotCommit]] data area and published with a manifest,
    * preserving its version number. Idempotent — already-migrated
    * versions are left alone: on a MIXED root (legacy dirs alongside
    * existing manifests) a legacy `v<N>` whose version is already
    * committed is skipped entirely, never renamed — renaming it would
    * orphan the legacy history under `data/` (the manifest
    * rename-to-existing would fail after the data move) and vacuum
    * would eventually sweep it. Returns the migrated count (skipped
    * versions excluded). */
  def migrateLegacy(spark: SparkSession, dimRoot: String): Int = {
    val committed = SnapshotCommit.versions(spark, dimRoot).toSet
    val legacy = legacyVersionDirs(spark, dimRoot)
      .filterNot(p => committed.contains(p.getName.drop(1).toLong))
    if (legacy.isEmpty) 0
    else {
      val fs = new org.apache.hadoop.fs.Path(dimRoot)
        .getFileSystem(spark.sessionState.newHadoopConf())
      legacy.sortBy(_.getName.drop(1).toLong).foreach { p =>
        val v = p.getName.drop(1).toLong
        val dataName = f"v$v-ae9a0000" // fixed migration token (hex)
        val dest = new org.apache.hadoop.fs.Path(s"$dimRoot/data/$dataName")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(p, dest))
          throw new java.io.IOException(s"migration rename failed: $p -> $dest")
        val commits = new org.apache.hadoop.fs.Path(dimRoot, "_commits")
        fs.mkdirs(commits)
        val tmp = new org.apache.hadoop.fs.Path(commits, s".tmp-migrate-$v")
        val out = fs.create(tmp, true)
        try out.write(dataName.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(commits, v.toString)))
          throw new java.io.IOException(s"migration manifest failed for v$v")
      }
      legacy.length
    }
  }

  /** Current dimension state (None before the first committed batch). */
  def currentDim(spark: SparkSession, dimRoot: String): Option[DataFrame] =
    latestVersion(spark, dimRoot).map(spark.read.parquet(_))

  /** Start the upsert stream over `snapshots` (a STREAMING frame of
    * `idCol` + `attrCols` rows). `asOfForBatch` stamps each batch's
    * effective/expiry dates (production: `_ => LocalDate.now()`;
    * tests: fixed dates per batch id). */
  def start(spark: SparkSession, snapshots: DataFrame, dimRoot: String,
      checkpointDir: String, idCol: String, attrCols: Seq[String],
      tracked: Seq[String], skCol: String,
      asOfForBatch: Long => LocalDate): StreamingQuery =
    snapshots.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one pin scope per batch: every frame ScdType2 pins is
        // released once the write has consumed it, so stream storage
        // stays O(1) — never a session-wide sweep, which would
        // unpersist frames a concurrent job on the shared session
        // still needs
        Checkpoints.scoped {
          val existing = latestVersion(spark, dimRoot, belowBatch = batchId)
            .map(spark.read.parquet(_))
          SnapshotCommit.write(ScdType2(batch, existing, idCol, attrCols,
            tracked, skCol, asOfForBatch(batchId)), dimRoot, batchId)
        }
      }
      .start()
}
