package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextFunctions.{hash60, tokenCount}

/** Sequence packing for training-data export: concatenate documents in
  * a deterministic order and chunk the stream into fixed token-budget
  * training sequences (the GPT-style "concat and chunk" packer — a doc
  * whose tokens cross a budget boundary straddles two sequences).
  *
  * Why concat-and-chunk and not first-fit bin packing: first-fit needs
  * sequential mutable state (the open bin's fill level), which does not
  * distribute; concat-and-chunk is a prefix sum — one window per shard
  * — and wastes zero budget (every sequence except a shard's last is
  * exactly full). That trade (splits instead of padding) is the one
  * production packers make at corpus scale.
  *
  * Scale notes (100 TB):
  *  - One shuffle on the shard key; the per-shard window is a sort, not
  *    a single-partition global order. Shard count scales with the
  *    corpus (shards ≈ corpus_tokens / target_shard_tokens), so each
  *    window partition stays bounded.
  *  - The order within a shard is hash-of-id (content-independent,
  *    reproducible across runs/engines/partitionings) — also the
  *    shuffle the training mix wants: consecutive docs in a sequence
  *    are unrelated, so no same-source runs leak into one context.
  */
object Packing {

  /** Assign each document a shard, a sequence id within the shard, and
    * its token offset inside that sequence. `straddles` marks docs that
    * cross a sequence boundary (split between two training sequences).
    *
    * Output columns: idCol, shard, n_tokens, seq_id, seq_offset,
    * straddles. Deterministic: order within a shard is
    * (hash60(id), id); id must be unique.
    *
    * `epochSeed` is the EPOCH RESHUFFLE: training wants a different
    * document permutation every epoch, and at 100 TB that permutation
    * must be a pure function of (id, seed) — a `DataFrame.sample`/
    * `rand` shuffle varies with partitioning and retries, and
    * re-ordering by actual random draw would be a global sort. With a
    * non-empty seed the within-shard order key becomes
    * hash60(seed + ":" + id): a fresh deterministic permutation per
    * seed, identical on any cluster size or input layout. The SHARD
    * assignment stays hash60(id) — seed-independent — so a document's
    * shard (and the storage/locality that hangs off it) is stable
    * across epochs; only the order and sequence composition within
    * the shard re-deal. Empty seed (the default) is byte-identical to
    * the historical single-epoch layout. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      shards: Int, budgetTokens: Long, epochSeed: String = ""): DataFrame = {
    require(shards > 0, s"need shards > 0, got $shards")
    require(budgetTokens > 0, s"need budgetTokens > 0, got $budgetTokens")
    // Internal AND output names: idCol="seq_id" would otherwise emit
    // two seq_id columns silently.
    val reserved = Seq("__graft_id", "shard", "n_tokens", "cum_before",
      "seq_id", "seq_offset", "straddles")
    require(!reserved.contains(idCol) && !reserved.contains(textCol),
      s"idCol/textCol must not be one of ${reserved.mkString("/")}")
    val idStr = col(idCol).cast("string")
    val orderKey =
      if (epochSeed.isEmpty) hash60(col("__graft_id"))
      else hash60(concat(lit(epochSeed), lit(":"), col("__graft_id")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(orderKey, col("__graft_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(
        col(idCol), idStr.as("__graft_id"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("shard", pmod(hash60(col("__graft_id")), lit(shards.toLong)))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col(idCol), col("shard"), col("n_tokens"),
        expr(s"cum_before DIV $budgetTokens").as("seq_id"),
        (col("cum_before") % budgetTokens).as("seq_offset"),
        (col("n_tokens") > 0 &&
          expr(s"(cum_before + n_tokens - 1) DIV $budgetTokens") >
            expr(s"cum_before DIV $budgetTokens")).as("straddles"))
  }

  /** INCREMENTAL packing — the continuous-ingestion path. [[
    * packSequences]] is corpus-global (a doc's offset depends on every
    * doc in its shard), so a daily pipeline that re-packs the
    * accumulated corpus pays corpus-sized work per day and REWRITES
    * history shards a trainer may already have consumed. This appends
    * instead: shard assignment stays hash60(id) (identical to
    * [[packSequences]] — locality stable), and within a shard each
    * slice lays out AFTER all previously committed slices (slice
    * arrival order, then (hash60(id), id) within the slice — the
    * first-arrival discipline the dedup store uses). Committed layout
    * is immutable: a doc's (shard, seq_id, seq_offset) never changes
    * once packed, which is exactly the contract a resumable training
    * run needs.
    *
    * Scale: per-day cost is SLICE-sized, never corpus-sized — the
    * append reads the carried per-shard token totals from a
    * shard-count-sized `_offsets` SIDECAR (underscore-prefixed, so
    * the main store read never sees it), not by rescanning history
    * (spec-pinned via input-records). Equivalent to a sequential fold
    * of per-slice [[packSequences]] with carried offsets — and
    * therefore to ONE global window ordered by (arrival, hash, id),
    * which is what the oracle replays. Commit protocol: the packed
    * batch commits first, then its offsets snapshot; a replayed batch
    * id no-ops; a crash between the two commits heals on replay (the
    * sidecar re-derives from the committed batch). */
  def packIncrement(slice: DataFrame, idCol: String, textCol: String,
      shards: Int, budgetTokens: Long, root: String, batchId: Long): Unit = {
    val spark = slice.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    val offRoot = new org.apache.hadoop.fs.Path(root, "_offsets").toString
    val batchDir = new org.apache.hadoop.fs.Path(root, s"batch=$batchId")
    def offDir(id: Long) =
      new org.apache.hadoop.fs.Path(offRoot, s"batch=$id")
    if (fs.exists(batchDir) && fs.exists(offDir(batchId))) return // replay
    // carried totals: the LATEST committed offsets snapshot
    // (shard-count-sized), or derive from the store if the previous
    // append crashed between its two commits
    def committedIds(dir: String): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
    }
    val mainIds = committedIds(root)
    val offIds = committedIds(offRoot)
    val priorIds = mainIds.filterNot(_ == batchId)
    require(priorIds.forall(_ < batchId),
      s"batch ids must be monotone: appending $batchId over " +
        s"committed ${priorIds.max} would re-base committed layout")
    val base: DataFrame =
      if (priorIds.isEmpty)
        spark.range(0).select(col("id").as("shard"), col("id").as("__base"))
      else if (offIds.nonEmpty && offIds.max == priorIds.max)
        spark.read.parquet(s"$offRoot/batch=${offIds.max}")
          .select(col("shard"), col("total_tokens").as("__base"))
      else // heal: a prior append crashed between its two commits —
        // re-derive from the committed batches BEFORE this one (the
        // replayed batch itself must not count toward its own base)
        BatchStore.read(spark, root)
          .filter(col("batch") =!= batchId)
          .groupBy(col("shard"))
          .agg(sum(col("n_tokens")).as("__base"))
    if (!fs.exists(batchDir)) {
      val packed = packSequences(slice, idCol, textCol, shards, budgetTokens)
        .join(broadcast(base), Seq("shard"), "left")
        .withColumn("__cum", coalesce(col("__base"), lit(0L))
          + col("seq_id") * budgetTokens + col("seq_offset"))
        .select(col(idCol), col("shard"), col("n_tokens"),
          expr(s"__cum DIV $budgetTokens").as("seq_id"),
          (col("__cum") % budgetTokens).as("seq_offset"),
          (col("n_tokens") > 0 &&
            expr(s"(__cum + n_tokens - 1) DIV $budgetTokens") >
              expr(s"__cum DIV $budgetTokens")).as("straddles"))
      BatchStore.append(packed, root, batchId)
    }
    // offsets snapshot AFTER the batch commit (shard-count-sized):
    // carried totals + this slice's per-shard token sums
    val newTotals = spark.read.parquet(batchDir.toString)
      .groupBy(col("shard")).agg(sum(col("n_tokens")).as("__slice"))
      .join(base, Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("__base"), lit(0L)) + coalesce(col("__slice"), lit(0L)))
          .as("total_tokens"))
    BatchStore.append(newTotals, offRoot, batchId)
    // retire superseded snapshots: only the max id is ever read, and
    // without retirement a year of daily appends leaves 365 sidecar
    // dirs whose listing cost grows with history — the small-files
    // problem the sidecar exists to avoid. Safe after the new
    // snapshot's commit (single maintainer, readers resolve max).
    committedIds(offRoot).filter(_ < batchId).foreach(id =>
      fs.delete(offDir(id), true))
  }

  /** [[packIncrement]] as a `foreachBatch` sink — batch id =
    * `1 + epochId`, the exactly-once epoch discipline every
    * store sink in the library shares. UNLIKE the order-free count
    * stores, arrival order is SEMANTIC here (a slice lays out after
    * the epochs before it), so the source must deliver slices in
    * arrival order — the file source with pinned mtimes, or any
    * ordered log. A replayed epoch no-ops against both commits; a
    * crash between them heals on the replay ([[packIncrement]]'s
    * protocol). */
  def packIncrementSink(idCol: String, textCol: String, shards: Int,
      budgetTokens: Long, root: String): (DataFrame, Long) => Unit =
    (batch, epochId) => packIncrement(batch, idCol, textCol, shards,
      budgetTokens, root, 1L + epochId)

  /** Global ORDER-PRESERVING token-budget sharding: documents are laid
    * out in `idCol` order and cut into shards of ~`budget` tokens, so
    * shard s holds the contiguous id range whose exclusive token
    * prefix-sum falls in [s·budget, (s+1)·budget). This is the export
    * layout when id order MEANS something (time order for curriculum
    * phases, crawl order for incremental refreshes) — [[packSequences]]
    * is the hash-shuffled counterpart for training mixes.
    *
    * The naive Spark spelling — `sum(w).over(Window.orderBy(id))` — is
    * the classic scale-killer: an empty-partition-key window collapses
    * the WHOLE corpus into one task. This is instead the textbook
    * distributed prefix sum, entirely in the DataFrame API:
    *   1. a 2-value bounds probe (min/max id — the JdbcPartitioning
    *      discipline) defines `buckets` contiguous, map-side-computable
    *      id ranges;
    *   2. one small aggregate (`buckets` rows) yields per-bucket token
    *      totals, whose exclusive running sum — a window over a frame
    *      BOUNDED BY THE BUCKET COUNT, never the corpus — gives each
    *      bucket's global start offset;
    *   3. the offsets broadcast-join back (no shuffle of the corpus)
    *      and a per-BUCKET window adds the within-bucket prefix.
    * Total cost at 100 TB: one corpus shuffle (the bucket window's
    * sort), one tiny agg, one broadcast — and bucket count scales with
    * the corpus, so each window partition stays bounded.
    *
    * Deterministic: bucket boundaries are pure id arithmetic, sums are
    * exact longs, within-bucket order is the unique id — the shard of
    * every document is a function of the data alone, so a DuckDB
    * oracle's `SUM(w) OVER (ORDER BY id)` reproduces it exactly.
    *
    * Output: idCol, n_tokens (= weight), global_offset (exclusive
    * prefix sum), shard. Ids must be unique; weights non-negative.
    *
    * `buckets = 0` (the default) DERIVES the bucket count from the
    * same probe that reads the bounds: ⌈rows / 2^20⌉ — each in-bucket
    * window sorts at most ~1M rows however big the corpus, which is
    * the invariant a constant default breaks at 100 TB (corpus/64
    * rows per window partition). The result is bucket-count
    * independent either way (pinned in Round8OpsSpec), so the knob
    * only shapes the plan. Bucket assignment divides FIRST —
    * `(id − lo) DIV ⌈span/buckets⌉` — the multiply-first spelling
    * `((id − lo) · buckets) DIV span` overflows Long once
    * span · buckets exceeds 2^63 (~2^57 span at 64 buckets),
    * silently producing non-monotone buckets and wrong offsets. */
  def contiguousShards(df: DataFrame, idCol: String, weightCol: Column,
      budget: Long, buckets: Int = 0): DataFrame = {
    require(budget > 0, s"need budget > 0, got $budget")
    require(buckets >= 0, s"need buckets >= 0 (0 = derive from row count), got $buckets")
    val reserved = Seq("__w", "__bucket", "__btotal", "__offset",
      "global_offset", "n_tokens", "shard")
    require(!reserved.contains(idCol),
      s"idCol must not be one of ${reserved.mkString("/")}")
    val out = Seq(col(idCol), col("__w").as("n_tokens"),
      col("global_offset"), expr(s"global_offset DIV $budget").as("shard"))
    val probe = df.agg(count(lit(1)),
      min(col(idCol)).cast("long"), max(col(idCol)).cast("long")).head()
    if (probe.getLong(0) == 0)
      return df.select(col(idCol)).limit(0)
        .withColumn("__w", lit(0L)).withColumn("global_offset", lit(0L))
        .select(out: _*)
    // An id column whose cast-to-long is all-null (e.g. a non-numeric
    // string id) must fail loudly: with null bounds every bucket
    // expression would be null and a NON-EMPTY input would silently
    // shard to an empty frame.
    require(!probe.isNullAt(1),
      s"contiguousShards: $idCol casts to null long for a non-empty input — use a numeric id")
    val (lo, hi) = (probe.getLong(1), probe.getLong(2))
    val span =
      try Math.addExact(Math.subtractExact(hi, lo), 1L)
      catch { case _: ArithmeticException =>
        throw new IllegalArgumentException(
          s"contiguousShards: id span [$lo, $hi] does not fit a signed 64-bit range") }
    val nBuckets =
      if (buckets > 0) buckets.toLong
      else math.max(1L, (probe.getLong(0) - 1) / (1L << 20) + 1)
    val width = (span - 1) / nBuckets + 1 // ceil(span / buckets), driver-side
    val w = df.select(col(idCol), weightCol.cast("long").as("__w"))
      .withColumn("__bucket",
        expr(s"(CAST($idCol AS BIGINT) - ${lo}L) DIV ${width}L"))
    val bucketTotals = w.groupBy(col("__bucket")).agg(sum(col("__w")).as("__btotal"))
    // `buckets` rows total: this empty-key window is bounded by the
    // bucket count (a config constant), NOT the corpus — the whole
    // point of the two-level structure.
    val offsets = bucketTotals.withColumn("__offset",
      coalesce(sum(col("__btotal")).over(Window.orderBy(col("__bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bucket"), col("__offset"))
    val inBucket = Window.partitionBy(col("__bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    w.join(broadcast(offsets), "__bucket")
      .withColumn("global_offset",
        col("__offset") + coalesce(sum(col("__w")).over(inBucket), lit(0L)))
      .select(out: _*)
  }
}
