package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot differencing — the CDC primitive between two versions of
  * the same table: which keys were added, removed, or changed (on a
  * chosen set of tracked columns), and which survived untouched.
  * This operator exposes that classification standalone, the way a
  * 100 TB lakehouse compacts "yesterday's export vs today's" into an
  * incremental feed.
  * [[ScdType2]] does NOT call it: its own diff compares strings the
  * reference's null-as-empty way (`fillna('')`), where this operator's
  * `<=>` counts null vs "" as a change.
  *
  * Shape: ONE full-outer shuffle join on the key (the unavoidable
  * comparison); change predicates are null-safe `<=>` on the tracked
  * columns, evaluated in the join's projection — no second pass, no
  * driver-side state. At scale both sides arrive hash-partitioned on
  * the key, so AQE handles skew and the join never broadcasts the big
  * side.
  */
object SnapshotDiff {

  /** `(key..., change_type)` for every key present in either snapshot:
    * `added` (only in `next`), `removed` (only in `prev`), `changed`
    * (in both, some tracked column differs null-safely), `unchanged`.
    */
  def diff(prev: DataFrame, next: DataFrame, keyCols: Seq[String],
      trackedCols: Seq[String]): DataFrame =
    classified(prev, next, keyCols, trackedCols)(_.otherwise(lit("unchanged")))
      .select(keyCols.map(col) :+ col("change_type"): _*)

  /** The incremental feed with payload: every key whose state moved
    * between the snapshots — `(key..., change_type, tracked...)` where
    * `tracked` carries the NEXT values (`added`/`changed`) or nulls
    * (`removed`). `unchanged` keys are filtered out BEFORE the result
    * materializes, so the feed is change-proportional: diffing two
    * 100 TB snapshots that differ in 0.1% of keys emits 0.1% of keys.
    */
  def changeSet(prev: DataFrame, next: DataFrame, keyCols: Seq[String],
      trackedCols: Seq[String]): DataFrame =
    classified(prev, next, keyCols, trackedCols)(identity)
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col) ++ (col("change_type") +:
        trackedCols.map(c => col(s"__next_$c").as(c))): _*)

  /** The full-outer join of both snapshots on the key, tracked columns
    * renamed `__prev_*` / `__next_*`, with `change_type` set to
    * `added`, `removed` or `changed`; `finish` closes that `when`
    * chain (the `unchanged` default, or none: null). */
  private def classified(prev: DataFrame, next: DataFrame, keyCols: Seq[String],
      trackedCols: Seq[String])(finish: Column => Column): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(!keyCols.contains("change_type") && !trackedCols.contains("change_type"),
      "column change_type is reserved")
    val p = prev.select((keyCols ++ trackedCols).map(col): _*)
      .withColumn("__in_prev", lit(true))
    val n = next.select((keyCols ++ trackedCols).map(col): _*)
      .withColumn("__in_next", lit(true))
    val renamedP = trackedCols.foldLeft(p)((d, c) => d.withColumnRenamed(c, s"__prev_$c"))
    val renamedN = trackedCols.foldLeft(n)((d, c) => d.withColumnRenamed(c, s"__next_$c"))

    val anyChange: Column = trackedCols
      .map(c => !(col(s"__prev_$c") <=> col(s"__next_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))

    renamedP.join(renamedN, keyCols, "full_outer")
      .withColumn("change_type", finish(
        when(col("__in_prev").isNull, lit("added"))
          .when(col("__in_next").isNull, lit("removed"))
          .when(anyChange, lit("changed"))))
  }

  /** MERGE: apply a [[changeSet]] to the base snapshot — delete
    * `removed` keys, upsert `added`/`changed` rows. By construction
    * `applyChanges(prev, changeSet(prev, next)) == next` (pinned in
    * SnapshotDiffSpec and the q86 oracle gate).
    *
    * Shape: one anti-join of base against the changed keys plus a
    * union — and because the changeset is change-proportional (see
    * [[changeSet]]), the anti-join's build side is small enough to
    * broadcast in the common small-delta case; AQE picks that up at
    * runtime. The base never shuffles more than the one join. */
  def applyChanges(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
      trackedCols: Seq[String]): DataFrame = {
    val outCols = (keyCols ++ trackedCols).map(col)
    val kept = base.join(changes.select(keyCols.map(col): _*),
        keyCols, "left_anti")
      .select(outCols: _*)
    val upserts = changes.filter(col("change_type") =!= "removed")
      .select(outCols: _*)
    kept.unionByName(upserts)
  }
}
