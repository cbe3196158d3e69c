package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextFunctions.hash60

/** Deterministic sampling / capping for training-data curation.
  *
  * Random sampling (`df.sample`) is the wrong tool for corpus curation:
  * the selected set changes across runs, stage retries, and engines, so
  * a pipeline can't be re-run reproducibly and an oracle can't check
  * it. Both operators here select by a content-derived hash
  * ([[TextFunctions.hash60]], a 60-bit md5 prefix that DuckDB
  * reproduces exactly), so the sample is a pure function of the data:
  * stable across runs, engines, partitionings, and stage retries.
  *
  * Scale notes (100 TB):
  *  - [[hashSample]] is a map-side filter — no shuffle, pushes through
  *    column pruning, composes with any downstream operator.
  *  - [[capPerGroup]] is one shuffle on the group key with the
  *    `row_number <= n` filter in Catalyst's `InferWindowGroupLimit`
  *    shape, so each map partition forwards at most n rows per group
  *    (partial group-limit below the exchange) — a hot group (one
  *    dominant language) costs n·P rows, never its full row count.
  */
object Sampling {

  /** Keep rows whose key hashes into `num` of `denom` buckets —
    * a deterministic `num/denom` sample. */
  def hashSample(df: DataFrame, keyCol: Column, num: Int, denom: Int): DataFrame = {
    require(num >= 0 && num <= denom, s"need 0 <= num=$num <= denom=$denom")
    df.filter(pmod(hash60(keyCol), lit(denom.toLong)) < num)
  }

  /** Probability-proportional-to-size sample: keep each row with
    * probability `weight/max(weight)` (the max-weight row is always
    * kept), decided by a content-derived hash instead of an RNG — the
    * selected SET is a pure function of the data, stable across runs,
    * engines, partitionings, and stage retries, so an oracle can gate
    * it and a re-run exports the identical corpus.
    *
    * The acceptance test is pure 64-bit integer arithmetic
    * (`(hash % resolution) · max_w < weight · resolution`), exact in
    * any engine; weights must be non-negative integers with
    * `weight · resolution < 2^63` (caller's contract — at the default
    * resolution that allows weights up to ~9.2e12). One broadcast
    * 1-row max joins onto what is otherwise a map-side filter. */
  def weightedHashSample(df: DataFrame, keyCol: Column, weightCol: Column,
      resolution: Long = 1000000L): DataFrame = {
    require(resolution > 0, s"resolution must be positive, got $resolution")
    require(!df.columns.contains("__max_w"), "column __max_w is reserved")
    val maxW = df.agg(max(weightCol).cast("long").as("__max_w"))
    df.crossJoin(broadcast(maxW))
      .filter(pmod(hash60(keyCol), lit(resolution)) * col("__max_w")
        < weightCol.cast("long") * lit(resolution))
      .drop("__max_w")
  }

  /** Temperature-smoothed mixture weights per group — the sampling
    * weights a multi-source/multi-lingual training mix uses to
    * up-weight small sources: `w_g ∝ p_g^alpha` with `alpha = 0.5`
    * (sqrt smoothing; alpha→1 is proportional, alpha→0 uniform).
    *
    * sqrt (not a general `pow`) is deliberate for the oracle gate:
    * sqrt is IEEE-754 correctly rounded in every engine while pow is
    * not, so weights hash-match cross-engine bit-for-bit. The
    * normalizing denominator Σ√p is an ORDERED left fold over the
    * group keys (collect to an array, sort, fold) — floating-point
    * addition isn't associative, and an unordered SUM could differ in
    * the last ulp between engines. The collect is over GROUPS (source
    * labels, languages — tens to thousands), never rows, so the
    * driver-side footprint is trivial at any corpus size.
    *
    * Returns (key, n_rows, p, weight), one row per group. */
  def mixtureWeights(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val withTotal = counts.crossJoin(counts.agg(sum(col("n_rows")).as("total")))
      .withColumn("p", col("n_rows").cast("double") / col("total"))
    val denom = withTotal
      .agg(aggregate(
        array_sort(collect_list(struct(col(keyCol), col("p")))),
        lit(0.0),
        (acc, x) => acc + sqrt(x.getField("p"))).as("denom"))
    withTotal.crossJoin(denom)
      .select(col(keyCol), col("n_rows"), col("p"),
        (sqrt(col("p")) / col("denom")).as("weight"))
  }

  /** Annotate each row with its group's exact `[lo, hi]` percentile
    * bounds of `valueCol` (linear interpolation — Spark `percentile`,
    * DuckDB `quantile_cont`; the two are hash-identical, pinned by
    * q39/q65). The bounds frame is one row per GROUP, so the join back
    * is a broadcast — the corpus side never shuffles.
    *
    * Scale note (100 TB): exact percentile sorts each group's values on
    * a single reducer, which is fine for the value DOMAIN here (token
    * counts per language — the agg buffer holds counts per distinct
    * value, not per row). For unbounded domains swap the agg for
    * `approx_percentile`; the operator shape is unchanged. */
  def withPercentileBounds(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, lo: Double, hi: Double,
      loName: String, hiName: String): DataFrame = {
    require(0 <= lo && lo <= hi && hi <= 1, s"need 0 <= lo=$lo <= hi=$hi <= 1")
    require(!df.columns.contains(loName) && !df.columns.contains(hiName),
      s"input already defines $loName/$hiName")
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(percentile(valueCol, lit(lo)).as(loName),
        percentile(valueCol, lit(hi)).as(hiName))
    df.join(broadcast(bounds), groupCols)
  }

  /** Drop per-group outliers: keep rows whose `valueCol` lies within
    * the group's `[lo, hi]` percentile band (length trimming for a
    * training corpus — truncated docs and boilerplate giants out). */
  def trimByPercentile(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, lo: Double, hi: Double): DataFrame =
    withPercentileBounds(df, groupCols, valueCol, lo, hi,
        "__graft_lo", "__graft_hi")
      .filter(valueCol >= col("__graft_lo") && valueCol <= col("__graft_hi"))
      .drop("__graft_lo", "__graft_hi")

  /** Cap each group at `n` rows, selected in deterministic hash order
    * of `keyCol` (ties broken by the key itself). The per-group
    * selection is uniform-without-replacement in expectation but fully
    * reproducible.
    *
    * `keyCol` must be unique within each group for the selected ROWS
    * to be deterministic (same contract as
    * [[SurrogateKeys.sequentialKeys]]'s orderCols): duplicated keys
    * straddling the rank-n boundary leave the survivor choice to
    * partition-input order. */
  def capPerGroup(df: DataFrame, groupCols: Seq[String], keyCol: Column,
      n: Int): DataFrame = {
    require(!df.columns.contains("__graft_rn"), "input already defines __graft_rn")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(hash60(keyCol), keyCol)
    // raw-int rank vs literal, cast dropped after the filter: the exact
    // shape InferWindowGroupLimit recognizes (see Similarity.rankTopK)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= n)
      .drop("__graft_rn")
  }

  /** Rank rows within each group in deterministic hash order of
    * `keyCol` and keep those with rank <= the group's `quota` — the
    * shared kernel of [[stratifiedSample]] and [[applyMixture]]. The
    * quota frame is one row per GROUP (broadcast back); the corpus
    * pays one hash shuffle for the per-group window sort. Unlike
    * [[capPerGroup]]'s literal cap, a per-group quota can't use the
    * map-side group-limit rewrite — the window sort is the price of
    * exact quotas. `keyCol` uniqueness contract as in capPerGroup. */
  private def keepByQuota(df: DataFrame, groupCols: Seq[String],
      keyCol: Column, quotas: DataFrame, quotaCol: String): DataFrame = {
    require(!df.columns.contains("__graft_rn") && !df.columns.contains(quotaCol),
      s"input already defines __graft_rn/$quotaCol")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(hash60(keyCol), keyCol)
    // null-SAFE group equality: groupBy emits a quota row for a NULL
    // group, and window partitioning groups NULL keys too — a plain
    // equi-join would silently drop the whole NULL stratum between them
    val aliased = quotas.select(groupCols.map(c => col(c).as(s"__graft_g_$c")) :+
      col(quotaCol): _*)
    val cond = groupCols.map(c => col(c) <=> col(s"__graft_g_$c")).reduce(_ && _)
    df.join(broadcast(aliased), cond)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= col(quotaCol))
      .drop(groupCols.map(c => s"__graft_g_$c") :+ "__graft_rn" :+ quotaCol: _*)
  }

  /** Proportional stratified sample: keep exactly
    * `ceil(frac * n_g)` rows of each group (never zero for a non-empty
    * group), selected in deterministic hash order — every stratum is
    * represented at the same rate, unlike [[hashSample]], whose
    * per-group realized rate fluctuates around `num/denom`. */
  def stratifiedSample(df: DataFrame, groupCols: Seq[String], keyCol: Column,
      frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"need 0 < frac <= 1, got $frac")
    val quotas = df.groupBy(groupCols.map(col): _*)
      .agg(ceil(count(lit(1)) * frac).as("__graft_quota"))
    keepByQuota(df, groupCols, keyCol, quotas, "__graft_quota")
  }

  /** Apply a [[mixtureWeights]] mix to a row budget: group `g` keeps
    * `floor(weight_g * budget)` rows (capped by its size), selected in
    * deterministic hash order — turning the √p-smoothed target
    * distribution into an actual exported subset. Returns the kept
    * rows. The weight arithmetic is the bit-exact q62 path, so the
    * realized quotas are engine-reproducible. */
  def applyMixture(df: DataFrame, keyCol: String, rowKey: Column,
      budget: Long): DataFrame = {
    require(budget > 0, s"need budget > 0, got $budget")
    val quotas = mixtureWeights(df, keyCol)
      .select(col(keyCol), floor(col("weight") * budget).as("__graft_quota"))
    keepByQuota(df, Seq(keyCol), rowKey, quotas, "__graft_quota")
  }

  /** Irregular (quantile) binning WITHOUT a range join: `bin(v)` = the
    * number of boundaries ≤ v, computed as an ordered fold over a
    * broadcast boundary array — so assigning every row to its
    * data-driven decile/percentile band is a pure map-side pass
    * (filter-friendly, codegen'd), never a BroadcastNestedLoopJoin
    * against a bands table. Boundaries are exact interpolating
    * percentiles (the q39-proven cross-engine `percentile` ≡
    * `quantile_cont`), computed in one aggregation over the same
    * frame. Adds column `bin` (LongType, 0 .. qs.size). */
  def quantileBins(df: DataFrame, valueCol: Column,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs == qs.sorted && qs.forall(q => q > 0 && q < 1),
      s"qs must be sorted fractions in (0,1), got $qs")
    require(!df.columns.contains("__graft_bounds") && !df.columns.contains("bin"),
      "input already defines __graft_bounds/bin")
    // ONE percentile aggregate over an array of percentages, not one
    // aggregate per fraction: each exact-percentile agg buffers the
    // whole column independently, so k separate calls cost k full
    // value buffers (measured 3.1s → ~1s on the q95 shape at sf0.1)
    val bounds = df.agg(
      percentile(valueCol, lit(qs.toArray)).as("__graft_bounds"))
    // null values get a NULL bin, not bin 0: percentile ignored them
    // when computing the boundaries, so assigning them to the lowest
    // band would silently corrupt any profile built on `bin`
    df.crossJoin(broadcast(bounds))
      .withColumn("bin", when(valueCol.isNotNull,
        aggregate(col("__graft_bounds"), lit(0L),
          (acc, b) => acc + when(valueCol >= b, 1L).otherwise(0L))))
      .drop("__graft_bounds")
  }

  /** Exact per-group ORDER-STATISTIC quantile (discrete, no
    * interpolation) WITHOUT buffering any group: the value at rank
    * `⌈q·n⌉` (ascending) of `valueCol` within each group. The exact
    * `percentile` aggregate ([[quantileBins]]) buffers every value of
    * a group in one task — the memory wall when a group is
    * corpus-sized. Here the selection is the classic distributed
    * histogram algorithm, made SKEW-PROOF by recursion:
    *  1. one 2-value global bounds probe defines `buckets` value
    *     ranges;
    *  2. one corpus pass counts (group, bucket) populations plus each
    *     bucket's actual min/max — a partial-aggregated groupBy,
    *     ≤ groups·buckets rows out;
    *  3. the cumulative-count window runs on THAT tiny frame
    *     (≤ buckets rows per group) to find each group's target
    *     bucket, its within-bucket offset, and its VALUE interval
    *     [bucket min, bucket max];
    *  4. a target interval that is a single value (min == max — every
    *     heavy-hitter distribution lands here immediately) IS the
    *     quantile, no ranking; an interval still holding more than
    *     `maxBucketRows` rows is RE-HISTOGRAMMED within its own value
    *     range (one extra corpus pass per refinement level, all
    *     oversized groups together, rank re-derived globally per
    *     level so refinement needs no row-set bookkeeping); only
    *     intervals at or under the cap are sort-ranked.
    * Without the recursion a dominant repeated value puts a whole
    * group in ONE bucket and stage 4 degenerates to the single-task
    * full-group rank this operator exists to avoid. Each level
    * shrinks the interval ~buckets-fold (the chosen bucket's OBSERVED
    * min/max, so a level never repeats its predecessor), so levels
    * are O(log_buckets(span/ulp)) worst-case, in practice ≤ 3; after
    * `maxDepth` levels the remaining intervals are ranked regardless
    * (correctness is never traded — the cap only bounds sort width).
    * `maxBucketRows <= 0` disables refinement (the pre-round-10
    * single-level behavior); `buckets = 1` cannot refine and implies
    * the same.
    *
    * The returned quantile is bucketing-INDEPENDENT (the rank is
    * global; buckets only bound how many rows the final stage sorts)
    * — pinned across bucket counts and caps in Round9TailSpec. The
    * rank is computed in EXACT DECIMAL arithmetic on q's shortest
    * decimal literal (⌈0.9·10⌉ = 9 — double arithmetic says 10;
    * callers passing a q whose decimal literal is not the fraction
    * they mean, e.g. 1/3, get the literal's rank). Returns one row
    * per group: `(group, n_rows, quantile)`. NULL values are excluded
    * from ranks (the [[quantileBins]] discipline). Lifecycle: the
    * per-level `targets` pins live in the caller's scope
    * ([[Checkpoints]]). */
  def groupQuantileDisc(df: DataFrame, groupCol: String, valueCol: String,
      q: Double, buckets: Int = 256, maxBucketRows: Long = 1L << 20,
      maxDepth: Int = 64): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0,1], got $q")
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val vals = df.select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val bounds = vals.agg(min(col("__v")), max(col("__v"))).head()
    if (bounds.isNullAt(0))
      return vals.groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_rows"), first(col("__v")).as("quantile"))
        .limit(0)
    // exact rank: decimal(q's shortest literal) × long, ceil'd — never
    // a double product (0.9 * 10 = 9.000000000000002 → rank 10)
    val decQ = BigDecimal(java.math.BigDecimal.valueOf(q))
    def rankOf(n: Column): Column = ceil(lit(decQ) * n).cast("long")
    // monotone bucket index over [lo, hi]: every IEEE rounding in the
    // chain is monotone, so buckets are contiguous runs of the sorted
    // values and equal values share a bucket — the property the
    // cumulative-rank selection below relies on
    def bucketIdx(lo: Double, hi: Double): Column =
      if (hi - lo == 0) lit(0L)
      else least(lit(buckets - 1L), greatest(lit(0L),
        floor((col("__v") - lit(lo)) / lit(hi - lo) * buckets).cast("long")))

    // Level 0: histogram over the global bounds; targets carry the
    // chosen bucket's observed value interval, the group total, and
    // the offset of the global rank within the interval.
    val counted0 = vals.withColumn("__b", bucketIdx(bounds.getDouble(0), bounds.getDouble(1)))
      .groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"), min(col("__v")).as("__bmin"),
        max(col("__v")).as("__bmax"))
    val byGrp = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
    var targets = counted0
      .withColumn("__cum", sum(col("__c")).over(byGrp))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(groupCol))))
      .withColumn("__r", rankOf(col("__n")))
      .filter(col("__cum") >= col("__r") &&
        col("__cum") - col("__c") < col("__r"))
      .select(col(groupCol), col("__n"), col("__r"), col("__bmin"),
        col("__bmax"), col("__c"),
        (col("__r") - (col("__cum") - col("__c"))).as("__off"))
      .transform(Checkpoints.pin) // tiny (≤ groups rows); read 2-3× per level

    // Refinement loop: re-histogram oversized targets within their own
    // interval. The rank is GLOBAL (__r) and re-anchored per level by
    // counting the group's rows below the interval in the same pass,
    // so no bookkeeping crosses levels beyond (group, interval).
    val refinable = maxBucketRows > 0 && buckets >= 2
    var depth = 0
    while (refinable && depth < maxDepth && !targets
        .filter(col("__c") > maxBucketRows && col("__bmin") < col("__bmax"))
        .isEmpty) {
      val big = targets.filter(col("__c") > maxBucketRows && col("__bmin") < col("__bmax"))
        .select(col(groupCol), col("__n"), col("__r"),
          col("__bmin").as("__lo"), col("__bmax").as("__hi"))
      val done = targets.filter(!(col("__c") > maxBucketRows && col("__bmin") < col("__bmax")))
      // one pass over the oversized groups' rows: idx −1 = below the
      // interval (re-anchors the global rank), `buckets` = above it
      // (never chosen: the rank-__r value lies inside the interval)
      val idx = when(col("__v") < col("__lo"), lit(-1L))
        .when(col("__v") > col("__hi"), lit(buckets.toLong))
        .otherwise(least(lit(buckets - 1L), greatest(lit(0L),
          floor((col("__v") - col("__lo")) / (col("__hi") - col("__lo")) * buckets)
            .cast("long"))))
      val counted = vals.join(broadcast(big), Seq(groupCol))
        .withColumn("__b", idx)
        .groupBy(col(groupCol), col("__n"), col("__r"), col("__b"))
        .agg(count(lit(1)).as("__c"), min(col("__v")).as("__bmin"),
          max(col("__v")).as("__bmax"))
      val byGrpR = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      val refined = counted
        .withColumn("__cum", sum(col("__c")).over(byGrpR))
        .filter(col("__b") >= 0 && col("__cum") >= col("__r") &&
          col("__cum") - col("__c") < col("__r"))
        .select(col(groupCol), col("__n"), col("__r"), col("__bmin"),
          col("__bmax"), col("__c"),
          (col("__r") - (col("__cum") - col("__c"))).as("__off"))
      targets = done.unionByName(refined).transform(Checkpoints.pin)
      depth += 1
    }

    // Single-value intervals ARE the answer; the rest sort-rank only
    // the rows inside their (cap-bounded) interval.
    val direct = targets.filter(col("__bmin") === col("__bmax"))
      .select(col(groupCol), col("__n").as("n_rows"),
        col("__bmin").as("quantile"))
    val toRank = targets.filter(col("__bmin") < col("__bmax"))
      .select(col(groupCol), col("__n"), col("__bmin"), col("__bmax"), col("__off"))
    val ranked = vals.join(broadcast(toRank), Seq(groupCol))
      .filter(col("__v") >= col("__bmin") && col("__v") <= col("__bmax"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("__v"))))
      .filter(col("__rn") === col("__off"))
      .select(col(groupCol), col("__n").as("n_rows"),
        col("__v").as("quantile"))
    direct.unionByName(ranked)
  }

  /** Leakage-safe dataset split: every row of a GROUP lands in the same
    * split, decided by a deterministic hash of the group key — never a
    * per-row coin. Splitting training corpora row-wise leaks: two
    * near-duplicate documents (or two rows of one user/session/domain)
    * straddle train and test, and the eval score measures memorization
    * of the train twin. Hashing the group label (e.g. the near-dup
    * cluster's canonical id from
    * [[graft.operators.Dedup.connectedComponents]], or a user/domain
    * key) moves the whole group together, so no correlated pair can
    * straddle a cut BY CONSTRUCTION — the invariant needs no check
    * join.
    *
    * `cuts` are (name, upperBoundPct) with ascending exclusive upper
    * bounds over `buckets` hash buckets; the last bound must equal
    * `buckets`. E.g. `Seq(("val",5),("test",10),("train",100))` →
    * 5% / 5% / 90% of GROUPS (proportions are of groups, not rows —
    * by design: the unit of independence is the group).
    *
    * NULL group keys: `hash60(null)` is null, every `when` comparison
    * is null, and the `otherwise` fires — so ALL null-key rows land in
    * the LAST cut (typically "train"), together. For a leakage-safety
    * operator a null group key usually means an upstream join dropped
    * the cluster label (a bug worth failing on), so either guarantee
    * non-null keys (`coalesce(component, id)` — what every caller
    * here does) or filter/inspect nulls before splitting; the
    * behavior is deterministic but it is NOT a hash split, and the
    * null rows' correlation structure is unknown by definition.
    *
    * Scale: a pure map-side projection (one hash, one when-chain) —
    * no shuffle, no state; composes with any downstream filter. Adds
    * column `split` (StringType). */
  def groupSplit(df: DataFrame, groupCol: Column,
      cuts: Seq[(String, Int)], buckets: Int = 100): DataFrame = {
    require(cuts.nonEmpty, "need at least one cut")
    require(cuts.last._2 == buckets,
      s"last cut must close the range: ${cuts.last._2} != $buckets")
    require(cuts.map(_._2) == cuts.map(_._2).sorted && cuts.map(_._2).distinct == cuts.map(_._2),
      s"cut bounds must be strictly ascending, got ${cuts.map(_._2)}")
    require(cuts.head._2 > 0, "first cut bound must be positive")
    require(!df.columns.contains("split"), "input already defines split")
    val b = pmod(hash60(groupCol.cast("string")), lit(buckets.toLong))
    val split = cuts.dropRight(1).foldRight(lit(cuts.last._1): Column) {
      case ((name, ub), rest) => when(b < ub, lit(name)).otherwise(rest)
    }
    df.withColumn("split", split)
  }
}
