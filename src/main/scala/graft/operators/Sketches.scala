package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Count–min-sketch surface: frequency estimation in fixed memory —
  * the single-pass companion to the HLL distinct-count sketch (q57).
  *
  * At 100 TB the exact per-key count behind a heavy-hitter report is a
  * full shuffle of the key domain; the CMS is one map-side pass into
  * `depth × width` counters (mergeable across partitions — Spark's
  * `stat.countMinSketch` merges partials exactly like any partial
  * aggregate). The CMS guarantee: `exact ≤ est ≤ exact + ε·N` with
  * probability `1 − δ` per key, `width = ⌈e/ε⌉`, `depth = ⌈ln(1/δ)⌉`.
  *
  * Like q57, the engine-specific estimate never leaves the query: it
  * feeds only the `within_eps` boolean, so every output column is
  * oracle-comparable and the gate genuinely fails if the sketch
  * drifts outside its published envelope.
  */
object Sketches {

  /** Exact top-`k` heavy hitters by frequency of `keyCol` (LongType),
    * each annotated with whether the CMS estimate honors the
    * `exact ≤ est ≤ exact + ε·N` envelope. Two corpus passes: the
    * exact groupBy (the at-scale replaceable one) and the sketch
    * build. The estimate lookup runs on k rows only, after the
    * TakeOrdered — a broadcast sketch probe, not a hot-path UDF.
    */
  /** Per-group approximate median with its rank-error envelope: the
    * Greenwald–Khanna sketch behind `percentile_approx` guarantees the
    * returned element's rank is within `n/accuracy` of `n/2`. The
    * approx VALUE never leaves the query (engine-specific); it feeds
    * only `within_rank_bound` — the exact count of values ≤ it, which
    * must land inside the envelope (±1 slack for duplicate runs).
    *
    * One sketch pass + one rank-audit pass. At 100 TB the audit pass
    * is a test-time device (the q80 gate); production keeps only the
    * single-pass mergeable sketch — the point over an exact median,
    * which needs a full sort or two-phase selection of the value
    * domain. */
  def approxMedianChecked(df: DataFrame, groupCol: String, valueCol: String,
      accuracy: Int): DataFrame = {
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_rows"),
      percentile_approx(col(valueCol), lit(0.5), lit(accuracy)).as("approx"))
    val ranks = df.join(broadcast(agg.select(col(groupCol), col("approx"))), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(sum(when(col(valueCol) <= col("approx"), 1L).otherwise(0L)).as("rank_le"))
    val n = col("n_rows").cast("double")
    agg.join(ranks, Seq(groupCol))
      .select(col(groupCol), col("n_rows"),
        (col("rank_le") >= n * 0.5 - n / accuracy - 1 &&
          col("rank_le") <= n * 0.5 + n / accuracy + 1).as("within_rank_bound"))
  }

  /** K-minimum-values (KMV) sketch per group: the `k` smallest
    * DISTINCT values of `valueCol` (a hashed domain — shingle hashes,
    * content digests) for each `groupCol` — the classic mergeable set
    * sketch behind distinct-count and set-overlap estimation
    * (Bar-Yossef et al. 2002; Beyer et al., SIGMOD'07). The output is
    * RELATIONAL — `(group, value)` rows, ≤ k per group — so any
    * engine can intersect/union sketches with plain joins and the
    * result is exact-integer comparable (no engine-private binary
    * blobs, unlike HLL registers).
    *
    * Skew design (100 TB): a naive per-GROUP window rank puts each
    * group's entire hashed domain in ONE task — with 20 sources that
    * is 20 tasks total, each corpus/20 wide. The bottom-k here is
    * two-level: first per `(group, value % fanout)` cell (fanout×
    * the parallelism, every partition bounded by the cell's domain
    * share), then a re-rank of the ≤ fanout·k survivors per group —
    * the second window sees sketch-sized input only. Correct because
    * the global bottom-k is a subset of the per-cell bottom-k's:
    * any value among the k smallest overall is among the k smallest
    * of its own cell.
    *
    * `k = 0` derives the sketch size from `targetRelErr`
    * ([[derivedKmvK]]); `fanout = 0` derives the cell count from a
    * count probe ([[derivedFanout]]) — both spec-pinned equal to the
    * explicit gate constants (64, 32) at gate scale. */
  /** Derived KMV sketch size for a target relative standard error:
    * the estimator's error is ~1/√k, so k = ⌈1/ε²⌉. The default
    * ε = 1/8 gives k = 64 — the explicit constant every KMV gate
    * (q141/q145/q149) passes (pinned in Round10Spec). k is an
    * ACCURACY knob, not a scale knob — it does not grow with the
    * corpus — so the derivation is from the caller's error budget,
    * the one parameter that actually determines it. Pure. */
  def derivedKmvK(targetRelErr: Double = 0.125): Int = {
    require(targetRelErr > 0 && targetRelErr <= 1,
      s"need 0 < targetRelErr <= 1, got $targetRelErr")
    math.ceil(1.0 / (targetRelErr * targetRelErr)).toInt
  }

  /** Derived [[kMinValues]] fanout for `rows` distinct (group, value)
    * pairs: `max(32, ⌈rows/2^20⌉)` — the `contiguousShards` rule;
    * each per-cell window ranks at most ~1M rows even when ONE group
    * owns the whole frame, which is the invariant the constant 32
    * breaks at 100 TB (corpus/32 rows per cell). Pure — the
    * `fanout = 0` path probes the count. */
  def derivedFanout(rows: Long): Int =
    math.max(32L, (rows + (1L << 20) - 1) >> 20).toInt

  def kMinValues(df: DataFrame, groupCol: String, valueCol: String,
      k: Int, fanout: Int = 32, targetRelErr: Double = 0.125): DataFrame = {
    require(k >= 0, s"need k >= 0 (0 = derive from targetRelErr), got $k")
    require(fanout >= 0, s"need fanout >= 0 (0 = derive from distinct count), got $fanout")
    val kk = if (k > 0) k else derivedKmvK(targetRelErr)
    // NULLs are excluded, not ranked: NULLS FIRST ordering would let a
    // single null value displace a real minimum from every sketch
    val distinctVals0 = df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull).distinct()
    // fanout = 0: count probe on a barriered distinct frame (the probe
    // and the windows then share ONE materialization, in the caller's
    // scope). Output is fanout-independent either way
    // (global bottom-k ⊆ per-cell bottom-k, Round9TailSpec) — the
    // knob only bounds the cell windows.
    val (distinctVals, fo) =
      if (fanout > 0) (distinctVals0, fanout)
      else {
        val pinned = Checkpoints.pin(distinctVals0)
        (pinned, derivedFanout(pinned.count()))
      }
    val cell = Window
      .partitionBy(col(groupCol), pmod(col(valueCol), lit(fo.toLong)))
      .orderBy(col(valueCol))
    val group = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    distinctVals
      .withColumn("__rn1", row_number().over(cell)).filter(col("__rn1") <= kk)
      .withColumn("__rn2", row_number().over(group)).filter(col("__rn2") <= kk)
      .drop("__rn1", "__rn2")
  }

  def heavyHittersChecked(df: DataFrame, keyCol: String, k: Int,
      eps: Double, confidence: Double, seed: Int): DataFrame = {
    val spark = df.sparkSession
    val cms = df.stat.countMinSketch(keyCol, eps, confidence, seed)
    val slack = math.ceil(eps * cms.totalCount()).toLong
    val bc = spark.sparkContext.broadcast(cms)
    val estimate = udf((key: Long) => bc.value.estimateCount(key))
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc, col(keyCol))
      .limit(k)
      .withColumn("est", estimate(col(keyCol)))
      .select(col(keyCol), col("n_rows"),
        (col("est") >= col("n_rows") &&
          col("est") <= col("n_rows") + lit(slack)).as("within_eps"))
  }
}
