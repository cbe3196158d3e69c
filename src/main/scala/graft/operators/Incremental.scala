package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable partial-aggregate state — the incremental-maintenance
  * pattern a 100 TB warehouse lives on: instead of re-scanning the
  * whole fact table for every monthly/weekly rollup, keep one tiny
  * PARTIAL row per (dims, day) and rebuild any coarser period by
  * merging partials. A new day of data touches only that day's
  * partials; history is never re-read.
  *
  * The state is (count, sum) — both associative and commutative, so
  * partials merge in any order and any grouping (the same algebra
  * Spark's own partial aggregation uses map-side, lifted to a
  * persisted, cross-run artifact). Sums are carried in DECIMAL(38,0)
  * so merge order can't change a bit.
  *
  * Scale notes: `dailyPartials` is one shuffle of the corpus down to
  * dims × days rows (tiny — write it `partitionBy(day)` and a daily
  * run overwrites one partition); `mergeToPeriod` aggregates ONLY the
  * partials, never the corpus. `IncrementalSpec` pins partials from
  * disjoint day ranges merging to exactly the full recompute.
  */
object Incremental {

  /** One partial row per (dims..., day): `(n_rows, sum_value)` with
    * the sum in DECIMAL(38,0). `valueInt` must be integer-valued
    * (e.g. money micros) so the state is exact and order-free. */
  def dailyPartials(df: DataFrame, dims: Seq[String], dayCol: Column,
      valueInt: Column): DataFrame =
    df.groupBy((dims.map(col) :+ dayCol.as("day")): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(valueInt.cast("decimal(38,0)")).as("sum_value"))

  /** Merge daily partials up to a coarser period (`periodOfDay` maps
    * the `day` column, e.g. `trunc(_, "month")`). Reads partials only. */
  def mergeToPeriod(partials: DataFrame, dims: Seq[String],
      periodOfDay: Column => Column): DataFrame =
    partials
      .groupBy((dims.map(col) :+ periodOfDay(col("day")).as("period")): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_value")).as("sum_value"))

  /** Persist partials `partitionBy(day)` with DYNAMIC partition
    * overwrite: `overwrite` mode replaces ONLY the day partitions
    * present in this write, leaving history untouched — so the daily
    * job is idempotent (a retry rewrites its own day, never truncates
    * the table, the failure mode of static-overwrite incremental
    * loads). Pinned in AnalyticsOpsSpec: rewriting one day leaves
    * every other partition's files byte-identical. */
  def writePartials(partials: DataFrame, path: String): Unit =
    partials.write
      .partitionBy("day")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** ATOMIC alternative to [[writePartials]]: merge the incoming days
    * into the latest committed partials snapshot and publish the
    * result via [[SnapshotCommit]] (write-once data dir + manifest
    * rename). [[writePartials]]'s dynamic partition overwrite commits
    * per-partition — a crash mid-commit can leave SOME days replaced
    * and others stale, and a reader racing the commit sees the mix;
    * here a crash at any point leaves the previous snapshot intact and
    * the new one invisible. The full rewrite this costs is of the
    * PARTIALS only (dims × days rows — noise next to the fact scan
    * that produced them); incoming days replace their previous rows,
    * so a retried daily run is idempotent. */
  def writePartialsCommitted(partials: DataFrame, root: String,
      version: Long): Unit = {
    val spark = partials.sparkSession
    SnapshotCommit.latestBelow(spark, root, version) match {
      case None => SnapshotCommit.write(partials, root, version)
      case Some(prev) => Checkpoints.scoped {
        // the incoming plan is referenced twice (day-distinct probe +
        // union); materialize it once so the upstream fact scan that
        // produced the partials doesn't execute twice per commit
        val p = Checkpoints.pin(partials)
        val merged = SnapshotCommit.read(spark, root, prev)
          .join(p.select(col("day")).distinct(), Seq("day"), "left_anti")
          .unionByName(p)
        SnapshotCommit.write(merged, root, version)
      }
    }
  }
}
