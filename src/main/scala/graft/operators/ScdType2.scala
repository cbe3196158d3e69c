package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}

/** SCD Type 2 dimension maintenance — SURVEY.md §2.10.
  *
  * Re-expresses `apply_scd_type2`
  * (`/root/reference/python/scd_implementation.py:16-100`) as pure
  * DataFrame algebra: one full-outer join on the business id, a
  * null-safe change predicate over the tracked attributes, a four-way
  * union (expired-old / new-version / brand-new / unchanged-history),
  * and a deterministic re-key.
  *
  * Faithful semantics preserved:
  *  - change compare is `fillna('')`-style for strings (null equals
  *    empty string, `scd_implementation.py:48-49`), `<=>` otherwise;
  *  - only CURRENT rows join against the new snapshot
  *    (`scd_implementation.py:34`); expired history flows through;
  *  - expired rows get `expiry_date = asOf - 1 day`, new versions
  *    `version = old + 1` (`scd_implementation.py:58-68`);
  *  - ids that disappear from the snapshot are retained unchanged
  *    (no delete handling);
  *  - surrogate keys are re-assigned per run from the sorted
  *    `(id, version)` order (`scd_implementation.py:96-98`) — NOT
  *    stable across runs, exactly like the reference. The wall-clock
  *    `datetime.now()` is parameterized as `asOf` (SURVEY.md §7.3).
  *
  * Scale notes (100 TB design point): the join shuffles both sides on
  * the business id only — tracked-attribute comparison is map-side.
  * Every row class (expired, new version, brand-new, and the carried
  * current rows) comes from ONE pinned diff, so the prior is read once
  * for its current rows and once for its expired history, and no
  * class re-joins the prior against the changed ids. The final re-key
  * is [[SurrogateKeys.sequentialKeys]]: a frame that fits the
  * broadcast threshold (the diff pin is gated at its measured size)
  * ranks in one task and is pinned here; a larger one takes the
  * two-phase range-partitioned re-key with no single-partition window,
  * so it parallelizes across the cluster even at billion-row
  * dimension cardinality. Both paths return a frame computed once. For
  * stable cross-run keys swap [[SurrogateKeys.stableHashKeyChecked]] —
  * the trade-off is documented there.
  *
  * Lifecycle: [[Checkpoints]].
  */
object ScdType2 {

  /** @param newSnap   new snapshot: `idCol` + `attrCols`
    * @param existing  prior dimension state (None → first run):
    *                  `skCol, idCol, attrCols..., version,
    *                  effective_date, expiry_date, is_current`. An
    *                  empty prior needs no special case: every
    *                  snapshot row is right-only in the diff and comes
    *                  out as the first run's row. The prior is read
    *                  twice (current rows into the diff, expired
    *                  history around it; three times under
    *                  `changedOnly`) and never pinned here; a caller that
    *                  overwrites its path before this output is
    *                  written pins it first (RcmRun does).
    * @param idCol     business key (e.g. `unified_patient_id`)
    * @param attrCols  all carried attribute columns
    * @param tracked   subset of `attrCols` that triggers a new version
    * @param skCol     surrogate-key output column
    * @param asOf      run date (reference: `datetime.now()`)
    * @param changedOnly incremental-batch mode: semi-join-prune the
    *                  existing CURRENT rows to ids present in
    *                  `newSnap` BEFORE the full-outer diff, so the
    *                  diff join is batch-sized on both sides instead
    *                  of dimension-sized. Semantically a no-op — the
    *                  current rows of dimension ids absent from the
    *                  batch flow through unchanged either way: as the
    *                  diff's left-only rows, or, pruned, through an
    *                  anti-join of the prior's current rows with the
    *                  batch's ids (equality property-pinned in
    *                  ScdType2Spec, oracle-gated as q109). Use when
    *                  upstream delivers only changed/new rows (CDC);
    *                  the reference's whole-snapshot reruns
    *                  (`scd_implementation.py:102-132`) keep the
    *                  default. The whole-dimension re-key below is
    *                  unchanged (reference key semantics), so cost is
    *                  sub-linear in batch size, not in dimension size.
    */
  def apply(newSnap: DataFrame, existing: Option[DataFrame], idCol: String,
      attrCols: Seq[String], tracked: Seq[String], skCol: String,
      asOf: LocalDate, changedOnly: Boolean = false): DataFrame = {

    // Duplicate-id guard: a duplicated id would fan out the full-outer
    // join and silently emit multiple current rows per id. It is
    // IN-PLAN (a per-id window count + `assert_true` filter), so it
    // costs no extra Spark job — its hash exchange on the id is the
    // distribution the diff join needs and is reused. A violation
    // surfaces as a SparkException at execution time.
    require(!newSnap.columns.contains("__graft_nid"),
      "input already defines internal column __graft_nid")
    val snap = newSnap
      .withColumn("__graft_nid",
        count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(assert_true(col("__graft_nid") <= 1,
        concat(lit("ScdType2: duplicate business id in new snapshot: "),
          col(idCol).cast("string"),
          lit(s" — dedupe on $idCol upstream; one-current-row-per-id cannot hold otherwise")))
        .isNull)
      .drop("__graft_nid")

    val asOfCol = lit(java.sql.Date.valueOf(asOf)).cast(DateType)
    val nullDate = lit(null).cast(DateType)

    def stamped(df: DataFrame, version: Column): DataFrame = df
      .withColumn("version", version.cast("long"))
      .withColumn("effective_date", asOfCol)
      .withColumn("expiry_date", nullDate)
      .withColumn("is_current", lit(true))

    val outCols = (Seq(skCol, idCol) ++ attrCols ++
      Seq("version", "effective_date", "expiry_date", "is_current")).map(col)

    // Two-phase parallel re-key over the deterministic (id, version)
    // order — `scd_implementation.py:96-98` semantics without the
    // single-partition window (see SurrogateKeys scale notes).
    def rekey(df: DataFrame): DataFrame =
      SurrogateKeys.sequentialKeys(df, Seq(col(idCol), col("version")), skCol)
        .select(outCols: _*)

    existing match {
      case None =>
        // First run (`scd_implementation.py:21-30`).
        rekey(stamped(snap.select((idCol +: attrCols).map(col): _*), lit(1)))

      case Some(existingDim) => Checkpoints.scoped {
        val cur0 = existingDim.filter(col("is_current"))
        val snapIds = snap.select(col(idCol))
        val cur = (if (!changedOnly) cur0
          else cur0.join(snapIds, Seq(idCol), "left_semi"))
          .withColumn("_old_present", lit(true))
        val newP = snap.select(
          col(idCol) +: attrCols.map(c => col(c).as(s"_new_$c")): _*)
          .withColumn("_new_present", lit(true))

        // Full-outer diff join on the business id (J5); materialized
        // once — every row class below is read from it. Left-only rows
        // carry a NULL `_new_present`, right-only rows a NULL
        // `_old_present` (not false).
        val joined = cur.join(newP, Seq(idCol), "full_outer").transform(Checkpoints.pin)

        // `fillna('')`-style null-safe inequality for strings, <=> else.
        val changePred = tracked.map { a =>
          val (o, n) = (col(a), col(s"_new_$a"))
          joined.schema(a).dataType match {
            case StringType => !(coalesce(o, lit("")) === coalesce(n, lit("")))
            case _          => !(o <=> n)
          }
        }.reduce(_ || _)

        val changed = joined.filter(col("_old_present") && col("_new_present") && changePred)

        val expiredOld = changed
          .select((Seq(idCol, "version", "effective_date") ++ attrCols).map(col): _*)
          .withColumn("expiry_date", date_sub(asOfCol, 1))
          .withColumn("is_current", lit(false))

        val newVersion = stamped(
          changed.select(
            col(idCol) +: (attrCols.map(c => col(s"_new_$c").as(c)) :+
              (col("version") + 1).as("_v")): _*),
          col("_v")).drop("_v")

        val brandNew = stamped(
          joined.filter(col("_old_present").isNull && col("_new_present"))
            .select(col(idCol) +: attrCols.map(c => col(s"_new_$c").as(c)): _*),
          lit(1))

        // Unchanged = every existing row EXCEPT the current rows of
        // changed ids (those are replaced by their expired copies):
        // the prior's expired history, plus the diff's current rows
        // that no change replaces — left-only rows (ids absent from
        // the snapshot, retained) and matched rows without a tracked
        // change. Under `changedOnly` the absent ids' current rows
        // were pruned from the diff, so they come from the prior
        // directly. Expired history of changed ids flows through.
        // NOTE: the reference drops ALL rows of a changed id here
        // (`scd_implementation.py:82-86`) — on a second change an id
        // would lose its v1 history. That path never executed (the
        // `version_old` crash, see the class doc), so we implement the
        // correct retention; the invariant is property-tested.
        val priorCols = (Seq(idCol) ++ attrCols ++
          Seq("version", "effective_date", "expiry_date", "is_current")).map(col)
        val carried = joined
          .filter(col("_old_present") && (col("_new_present").isNull || !changePred))
        val absent = if (changedOnly) Seq(cur0.join(snapIds, Seq(idCol), "left_anti")) else Nil
        val unchanged = (existingDim.filter(!col("is_current")) +: carried +: absent)
          .map(_.select(priorCols: _*)).reduce(_.unionByName(_))

        val assembled = unchanged
          .unionByName(expiredOld)
          .unionByName(newVersion)
          .unionByName(brandNew)
        // Computed once on either re-key path: the dimension-scale
        // re-key returns a pin, the one-task re-key is pinned here.
        // Either pin reads the diff pin only through its own blocks,
        // so the scope releases the diff pin.
        val keyed = rekey(assembled)
        if (SurrogateKeys.fitsOneTask(assembled)) Checkpoints.pin(keyed) else keyed
      }
    }
  }

  /** POINT-IN-TIME dimension lookup — the query an SCD2 dimension
    * exists FOR: join each fact to the version that was valid at the
    * fact's own date (`effective_date ≤ fact date ≤ expiry_date`,
    * open-ended current versions match everything after their
    * effective date). `facts` must carry the dimension's natural key
    * under `idCol` and a date column `dateCol`.
    *
    * Matches are unique by construction: [[ScdType2.apply]]'s
    * validity windows PARTITION time per key (each expiry is the next
    * version's effective minus one day), so an inner join returns
    * each fact at most once — facts dated before the key's first
    * version (or with unknown keys) drop out, the warehouse
    * convention for early/orphan facts.
    *
    * Scale shape: an EQUI-join keyed on the natural key with the
    * validity window as a residual filter — never a range join over
    * the cross product. Versions per key are small (one per change),
    * so the per-key fan-out before the residual is bounded; AQE
    * broadcasts the dimension when it fits, else both sides shuffle
    * on the key like any fact-dim join. */
  def pointInTimeLookup(facts: DataFrame, dim: DataFrame, idCol: String,
      dateCol: String): DataFrame =
    facts.join(dim, Seq(idCol))
      .filter(col(dateCol) >= col("effective_date") &&
        (col("expiry_date").isNull || col(dateCol) <= col("expiry_date")))
}
