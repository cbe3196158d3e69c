package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-series regularization: turn an irregular event log into a
  * COMPLETE daily grid — one row per (day × dimension combination)
  * with explicit zero counts for empty cells. Downstream consumers
  * (trend models, anomaly detectors, training-mix dashboards) need the
  * zeros; a groupBy alone silently omits them.
  *
  * Shape (100 TB): the corpus is scanned exactly ONCE — the counting
  * aggregation takes a row predicate (`countCond`) instead of a
  * pre-filtered frame, so the same pass that counts the matching rows
  * also yields the full calendar span and the dimension domain from
  * its own post-aggregation output (days × dims, thousands of rows at
  * most). That output is materialized once (localCheckpoint — without
  * the barrier Catalyst specializes each of the three consumers down
  * to its own pruned corpus scan; with it the corpus is read once and
  * the span/domain/join all read the tiny checkpointed frame). The
  * calendar is `sequence(min_day, max_day)` exploded from a 1-row span
  * aggregate, and the final left join broadcasts the counts onto the
  * grid. PlanSpec pins the single scan.
  *
  * Lifecycle: the checkpointed blocks (days × dims rows — trivial)
  * stay pinned until GC + ContextCleaner; long-lived sessions release
  * them once the result is consumed (see [[Checkpoints]] /
  * [[graft.Bench.releaseBlocks]]).
  */
object Resample {

  /** Daily counts of rows satisfying `countCond`, on the complete
    * `[min, max]` day span and dimension domain of ALL of `df`'s rows:
    * `(day, dims..., n_events)` with explicit zeros both for grid
    * cells whose rows all fail `countCond` and for days with no rows
    * at all. */
  def gapFillDailyCounts(df: DataFrame, tsCol: Column, dims: Seq[String],
      countCond: Column): DataFrame = {
    val observed = df
      .groupBy((to_date(tsCol).as("day") +: dims.map(col)): _*)
      .agg(count(when(countCond, lit(1))).as("__n"))
      .transform(Checkpoints.pin)

    val calendar = observed
      .agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))

    val grid =
      if (dims.isEmpty) calendar
      else calendar.crossJoin(observed.select(dims.map(col): _*).distinct())

    grid
      .join(broadcast(observed), "day" +: dims, "left")
      .select((col("day") +: dims.map(col))
        :+ coalesce(col("__n"), lit(0L)).as("n_events"): _*)
      .orderBy((col("day") +: dims.map(col)): _*)
  }

  /** Trailing `windowDays`-day totals over a (possibly gapped) daily
    * series: per dims × day, the count/total of that day plus the sum
    * over the trailing window — computed with a RANGE frame on the
    * epoch day, which is what makes calendar gaps correct: a missing
    * day shrinks the row count inside the frame but never its day
    * SPAN, exactly where a ROWS frame silently drifts.
    *
    * Shape (100 TB): one aggregation shuffles the corpus down to
    * dims × days, then one window shuffle on dims sorts each
    * partition's days once — frame state is O(windowDays) per
    * partition. `valueInt` must be integer-typed so the running sums
    * are exact in any engine. */
  def trailingDaily(df: DataFrame, tsCol: Column, dims: Seq[String],
      valueInt: Column, windowDays: Int): DataFrame = {
    require(dims.nonEmpty, "dims must be non-empty")
    require(windowDays >= 1, s"windowDays must be positive, got $windowDays")
    val daily = df
      .groupBy((dims.map(col) :+ to_date(tsCol).as("day")): _*)
      .agg(count(lit(1)).as("n_events"), sum(valueInt).as("day_total"))
      .withColumn("__epoch_day", unix_date(col("day")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dims.map(col): _*).orderBy(col("__epoch_day"))
      .rangeBetween(-(windowDays - 1).toLong,
        org.apache.spark.sql.expressions.Window.currentRow)
    daily
      .withColumn("trailing_total", sum(col("day_total")).over(w))
      .withColumn("trailing_days", count(lit(1)).over(w))
      .drop("__epoch_day")
  }
}
