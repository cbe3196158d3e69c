package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Late-interaction re-ranking — the ColBERT scoring rule (Khattab &
  * Zaharia 2020): instead of one vector per passage, keep one vector
  * per TOKEN and score a (query, passage) pair as
  * `Σ_i max_j cos(q_i, d_j)` — each query token finds its best match
  * in the passage and the matches sum. The precision stage of the
  * two-stage retrieval stack: a bi-encoder front (LSH over pooled
  * chunk embeddings, [[Similarity.rpLshTopK]]) recalls candidates
  * cheaply, MaxSim re-scores the survivors with token-level
  * interaction that pooled vectors blur away.
  *
  * Token vectors are the deterministic fastText-style stub
  * ([[TextFunctions.tokenVector]] — char-trigram grams of the padded
  * token through the hashed-slot fold; a real encoder swaps in behind
  * the same (token → vec) contract). Each DISTINCT token is embedded
  * exactly ONCE (vocabulary-sized work, Heaps-law sublinear) and
  * joined back to occurrences — never re-hashed per candidate pair.
  *
  * Arithmetic discipline: per-(query-position, passage) max cosine is
  * an exact IEEE double (fixed parenthesization), the per-position
  * contribution is `floor(2³⁰ · maxcos)` as a LONG, a pair's score is
  * the order-free exact sum of its positions' contributions, and the
  * ranking key is ONE double division (ms_fp / n_qtoks) — the LM/q151
  * fixed-point rule, so the oracle hash-matches the full ranking.
  *
  * Scale shape: candidates × query-positions × passage-tokens is the
  * only pair-level work, keyed on the candidate ids — the corpus
  * appears ONLY through the candidate list the front stage produced.
  * Duplicate passage tokens are collapsed BEFORE the pair join (max
  * over occurrences = max over distinct tokens); query positions are
  * kept (ColBERT sums per position, so a repeated query token counts
  * each time). Nothing is ever corpus×queries.
  */
object LateInteraction {

  /** Query POSITIONS with candidates: `(queryCol, __qpos, __tok)` —
    * positions kept (ColBERT sums per position), the token window
    * bounded, queries without candidates dropped. Returned PINNED
    * (feeds the vocabulary and the embedding join) in the caller's
    * scope. */
  private def queryPositions(queries: DataFrame, cb: DataFrame,
      queryCol: String, textCol: String, maxQueryTokens: Int): DataFrame =
    queries.join(cb.select(col(queryCol)).distinct(), Seq(queryCol))
      .select(col(queryCol), posexplode(
        slice(TextFunctions.tokens(col(textCol)), 1, maxQueryTokens)))
      .select(col(queryCol), col("pos").as("__qpos"), col("col").as("__tok"))
      .transform(Checkpoints.pin)

  /** Embed a distinct-token frame (`__tok`): adds the float vector
    * `__tv` and its norm `__tn`, zero-norm tokens dropped (cosine
    * undefined) — the vocabulary-sized embedding pass every MaxSim
    * path shares. */
  private def embedVocab(toks: DataFrame, dim: Int): DataFrame =
    toks.withColumn("__tv", TextFunctions.tokenVector(col("__tok"), dim))
      .withColumn("__tn", sqrt(aggregate(
        transform(col("__tv"), x => x * x), lit(0.0), (a, v) => a + v)))
      .filter(col("__tn") > 0)

  /** [[embedVocab]] then symmetric int8 absmax quantization: `__qv`
    * (codes widened to double) and `__qn` — the serve-time query-side
    * twin of [[writeTokenIndexInt8]]'s stored codes. Goes through the
    * same [[Quantize.int8AbsMax]] arithmetic; a non-zero vector always
    * keeps a ±127 component, so `__qn` never vanishes. */
  private def embedVocabInt8(toks: DataFrame, dim: Int): DataFrame =
    Quantize.int8AbsMax(
        toks.withColumn("__tv", TextFunctions.tokenVector(col("__tok"), dim)),
        "__tv")
      .filter(col("scale") > 0)
      .withColumn("__qv", transform(col("q"), x => x.cast("double")))
      .withColumn("__qn", sqrt(aggregate(
        transform(col("__qv"), x => x * x), lit(0.0), (a, v) => a + v)))
      .select(col("__tok"), col("q"), col("__qv"), col("__qn"))

  /** Re-rank `cands` — one row per (query, passage) candidate pair,
    * columns `queryCol, passageCol` — by MaxSim between the query's
    * first `maxQueryTokens` tokens and the passage's tokens. Token
    * text comes from `queryToks` (`queryCol, text`) and `passageToks`
    * (`passageCol, text`). Returns
    * `(queryCol, rank, passageCol, n_qtoks, ms_fp, ms_avg)`, the top
    * `k` per query descending by `ms_avg` (passage-id tiebreak):
    * ms_fp = Σ over query positions of floor(2³⁰·max_j cos), ms_avg =
    * ms_fp / n_qtoks. Query positions whose token embeds to a
    * zero-norm vector are skipped on both sides (cosine undefined);
    * a candidate whose passage has NO embeddable token drops out. */
  def maxSimRerank(cands: DataFrame, queries: DataFrame, passages: DataFrame,
      queryCol: String, passageCol: String, textCol: String,
      dim: Int, maxQueryTokens: Int, k: Int): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxQueryTokens >= 1, s"need maxQueryTokens >= 1, got $maxQueryTokens")
    // pin: the candidate list feeds both occurrence joins; both
    // occurrence frames feed the vocabulary AND their own embedding
    // join — pinned once (the q141 multi-consumer discipline; dt's
    // upstream is a corpus-chunk-scale scan)
    val cb = cands.select(col(queryCol), col(passageCol)).transform(Checkpoints.pin)
    val qt = queryPositions(queries, cb, queryCol, textCol, maxQueryTokens)
    // passage tokens: distinct per passage (max over occurrences ==
    // max over distinct tokens — the pair join shrinks for free)
    val dt = passages.join(cb.select(col(passageCol)).distinct(), Seq(passageCol))
      .select(col(passageCol),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .distinct()
      .transform(Checkpoints.pin)
    // vocabulary-sized embedding: every distinct token ONCE
    val vocab = embedVocab(
        qt.select(col("__tok")).union(dt.select(col("__tok"))).distinct(), dim)
      .transform(Checkpoints.pin) // feeds both occurrence joins
    val qe = qt.join(vocab, Seq("__tok"))
      .select(col(queryCol), col("__qpos"),
        col("__tv").as("__qv"), col("__tn").as("__qn"))
    val de = dt.join(vocab, Seq("__tok"))
      .select(col(passageCol), col("__tv").as("__dv"), col("__tn").as("__dn"))
    scoreTail(cb, qe, de, queryCol, passageCol, k)
  }

  /** The MaxSim scoring tail shared by the in-memory and the
    * served-from-index paths: candidate pairs × query positions ×
    * passage vectors → per-position max cosine → fixed-point
    * contribution → exact pair sum → per-query rank, top `k`. */
  private def scoreTail(cb: DataFrame, qe: DataFrame, de: DataFrame,
      queryCol: String, passageCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(queryCol))
      .orderBy(desc("ms_avg"), col(passageCol))
    cb.join(qe, Seq(queryCol))
      .join(de, Seq(passageCol))
      .withColumn("__cos",
        aggregate(zip_with(col("__qv"), col("__dv"), (x, y) => x * y),
          lit(0.0), (a, v) => a + v) / (col("__qn") * col("__dn")))
      .groupBy(col(queryCol), col(passageCol), col("__qpos"))
      .agg(max(col("__cos")).as("__mc"))
      .withColumn("__contrib",
        floor(col("__mc") * lit(1073741824.0)).cast("long"))
      .groupBy(col(queryCol), col(passageCol))
      .agg(sum(col("__contrib")).as("ms_fp"),
        count(lit(1)).as("n_qtoks"))
      .withColumn("ms_avg", col("ms_fp").cast("double") / col("n_qtoks"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryCol), col("rank").cast("long").as("rank"),
        col(passageCol), col("n_qtoks"), col("ms_fp"), col("ms_avg"))
      .transform(Checkpoints.pin)
  }

  // -------------------------------------------- persisted token index

  /** Default passage-bucket count for the partitioned store layout —
    * small enough that a gate-scale batch isn't shredded into empty
    * dirs, large enough that the pruning is visible; a 100 TB index
    * would use 1024+ (buckets are fixed at first append, recorded in
    * the store's `_buckets` meta file). */
  val DefaultBuckets: Int = 16

  /** The store's passage-bucket expression: a deterministic hash of
    * the passage id into `[0, buckets)` — the write side partitions
    * dirs by it, the serve side recomputes it on the CANDIDATE ids
    * to know which dirs to open. Never oracle-visible (it moves
    * bytes, not values). */
  private def passageBucket(passageCol: String, buckets: Int) =
    pmod(xxhash64(col(passageCol)), lit(buckets.toLong))

  /** Record (or verify) the store's bucket count — the shared
    * write-once scalar-meta protocol ([[BatchStore.ensureIntMeta]]:
    * staged+renamed commit, mismatch and legacy-flat-store appends
    * fail loudly; a store mixing two bucketings would silently serve
    * partial results, and a `__pb`-partitioned batch committed beside
    * flat legacy ones would brick the full-scan fallback on
    * conflicting directory structures). */
  private def ensureBucketsMeta(spark: org.apache.spark.sql.SparkSession,
      root: String, buckets: Int): Unit = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    BatchStore.ensureIntMeta(spark, root, "_buckets", "buckets", buckets)
  }

  /** The store's recorded bucket count; `None` for a pre-bucketing
    * (flat) store, which serves by full scan — the legacy fallback. */
  private[operators] def readBucketsMeta(
      spark: org.apache.spark.sql.SparkSession, root: String): Option[Int] =
    BatchStore.readIntMetaOpt(spark, root, "_buckets", "buckets")

  /** The candidate-pruned store read — the serve-side half of the
    * bucket layout: collect the DISTINCT buckets the candidate ids
    * hash to (≤ the store's bucket count rows, driver-safe at any
    * candidate volume) and turn them into a PARTITION filter on the
    * `__pb` dirs, so the scan opens only the candidates' buckets —
    * serve input bytes scale with candidates, not store size (the
    * [[Similarity.ivfPqTopKFromStore]] probed-list discipline). The
    * predicate hits the partition column at its DISCOVERED type
    * (small dir values infer as int — a long literal would wrap the
    * column in a cast and forfeit directory pruning). Flat legacy
    * stores (no meta file) fall back to the full scan. */
  private[graft] def prunedStoreRead(spark: org.apache.spark.sql.SparkSession,
      root: String, candIds: DataFrame, passageCol: String): DataFrame = {
    val st0 = BatchStore.read(spark, root)
    // batch-level Bloom-sidecar prune UNDER the bucket prune: each
    // passage lives wholly in one batch (the write contract), so a
    // serve for K candidates can touch at most K batches — the
    // sidecar ("i:<passage id>" tags, [[BatchBlooms]]) names them,
    // making serve input HISTORY-FLAT on deep stores where bucket
    // pruning alone still reads the candidates' buckets of EVERY
    // batch (input ∝ history/buckets). Sidecar-less/small stores
    // scan all batches (sound; pruned ≡ flat — no false negatives).
    val storeIdType = st0.schema(passageCol).dataType
    val typedIds0 = candIds.select(col(passageCol).cast(storeIdType)
      .as(passageCol))
    val st = BatchBlooms.hits(spark, root,
        Seq("i" -> typedIds0.select(col(passageCol).cast("string"))),
        beforeBatch = None) match {
      case Some(Seq(ids)) =>
        if (ids.isEmpty) st0.filter(lit(false))
        else {
          val lits: Seq[Any] = st0.schema("batch").dataType match {
            case org.apache.spark.sql.types.IntegerType => ids.map(_.toInt)
            case _ => ids
          }
          st0.filter(col("batch").isin(lits: _*))
        }
      case _ => st0
    }
    readBucketsMeta(spark, root) match {
      case Some(n) =>
        // xxhash64(int) != xxhash64(long) for the same value: a
        // candidate frame whose id dtype differs from the stored
        // passage column would prune the WRONG dirs and silently
        // drop passages the equi-join would have matched — hash at
        // the store's dtype (typedIds0 above; the sidecar probe keys
        // stringify the same cast for the same reason).
        val typedIds = typedIds0
        val bks = typedIds.select(passageBucket(passageCol, n).as("__pb"))
          .distinct().collect().map(_.getLong(0)).sorted
        if (bks.isEmpty) st.filter(lit(false)).drop("__pb")
        else {
          val lits: Seq[Any] = st.schema("__pb").dataType match {
            case org.apache.spark.sql.types.IntegerType => bks.toSeq.map(_.toInt)
            case _ => bks.toSeq
          }
          st.filter(col("__pb").isin(lits: _*)).drop("__pb")
        }
      case None => st
    }
  }

  /** Append one passage slice's TOKEN VECTORS to the persisted
    * late-interaction index at `root` — the ColBERT index as a
    * [[BatchStore]]: one row per (passage, distinct token), columns
    * `(passageCol, __dv array<double>, __dn double)`; the passage's
    * duplicate tokens are collapsed at WRITE time (max over
    * occurrences = max over distinct tokens — q197's shrink moved to
    * the write so the serve never re-tokenizes the corpus) and
    * zero-norm tokens are dropped (never scorable). Each passage
    * must live entirely in one batch (slices partition by passage,
    * the [[InvertedIndex.writePostingStore]] contract).
    *
    * Layout: rows are hash-bucketed by passage id into `buckets`
    * partition dirs per batch (`batch=<id>/__pb=<b>/…`), so serving
    * opens only the candidate ids' buckets ([[prunedStoreRead]]) —
    * the token index is one row per passage×distinct-token, the
    * LARGEST store in the library, and an unpruned serve scan would
    * pay O(store) per query at 100 TB. The bucket count is fixed at
    * first append (`_buckets` meta file). */
  def writeTokenIndex(passages: DataFrame, passageCol: String,
      textCol: String, dim: Int, root: String, batchId: Long,
      buckets: Int = DefaultBuckets): Unit =
    appendTokenIndex(passages, passageCol, textCol, root, batchId, buckets,
      floatVocab(dim), floatValues)

  /** The float index's vocabulary (`__tok, __tv, __tn`) and stored
    * value columns (`__dv`, `__dn`). */
  private def floatVocab(dim: Int)(toks: DataFrame): DataFrame =
    embedVocab(toks, dim).select(col("__tok"), col("__tv"), col("__tn"))
  private val floatValues = Seq(col("__tv").as("__dv"), col("__tn").as("__dn"))

  /** The int8 index's vocabulary (`__tok, __qb` — packed codes) and
    * stored value column (`__qb`). */
  private def int8Vocab(dim: Int)(toks: DataFrame): DataFrame =
    embedVocabInt8(toks, dim)
      .select(col("__tok"), graft.plans.Int8Codec.pack(col("q")).as("__qb"))
  private val int8Values = Seq(col("__qb"))

  /** The single-batch writer body shared by [[writeTokenIndex]] and
    * [[writeTokenIndexInt8]]: `vocabOf` embeds the distinct tokens
    * (`__tok` + value columns), `values` are the stored value columns. */
  private def appendTokenIndex(passages: DataFrame, passageCol: String,
      textCol: String, root: String, batchId: Long, buckets: Int,
      vocabOf: DataFrame => DataFrame, values: Seq[Column]): Unit = Checkpoints.scoped {
    // pinned: the (passage, token) pairs feed the vocabulary AND the
    // join back — and the slice's DISTINCT tokens embed exactly once
    // (vocabulary-sized md5 work, not corpus-token-sized: the same
    // token appearing in ten thousand passages hashes its grams once,
    // the maxSimRerank discipline applied to the write path)
    ensureBucketsMeta(passages.sparkSession, root, buckets)
    val pairs = Parallelism.spread(passages, passageCol) // §2.5 floor (r19)
      .select(col(passageCol),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .distinct()
      .transform(Checkpoints.pin)
    // parallel embed + bucket-aligned join/write — the slice writers'
    // discipline (AQE pins the distinct at ~1 partition at gate scale)
    val toks = pairs.select(col("__tok")).distinct().transform(Checkpoints.pin)
    val vocab = vocabOf(Parallelism.spread(toks, "__tok")).transform(Checkpoints.pin)
    val rows = pairs
      .withColumn("__pb", passageBucket(passageCol, buckets))
      .repartition(buckets, col("__pb"))
      .join(broadcast(vocab), Seq("__tok"))
      .select((col(passageCol) +: values :+ col("__pb")): _*)
    dropStaleSidecar(passages.sparkSession, root, batchId)
    BatchStore.append(rows, root, batchId, partitionBy = Seq("__pb"))
    writeBatchIdBloom(passages.sparkSession, root, batchId, passageCol)
  }

  /** The stale-sidecar pre-delete ([[Dedup.writeSignatureStore]]'s
    * discipline): a re-append of a compacted-away batch id must never
    * leave a window where the NEW batch is pruned against the OLD
    * batch's sketch — the pre-delete makes the window's worst case a
    * sidecar-less batch (always scanned, sound). */
  private def dropStaleSidecar(spark: org.apache.spark.sql.SparkSession,
      root: String, batchId: Long): Unit = {
    val p = BatchBlooms.path(root, batchId)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Bloom sidecar over the committed batch's DISTINCT passage ids
    * (`"i:<id>"` tags — [[prunedStoreRead]]'s probe space): written
    * AFTER the batch commit (a crash in between leaves a batch that
    * is simply always scanned); read back from the committed dir so
    * the sketch reflects exactly what readers will scan. Cost: one
    * distinct+count+Bloom aggregation over the DELTA's ids. */
  private def writeBatchIdBloom(spark: org.apache.spark.sql.SparkSession,
      root: String, batchId: Long, passageCol: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(root, s"batch=$batchId")
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dirPath)) return
    val ids = spark.read.parquet(dirPath.toString)
      .select(col(passageCol)).distinct()
    BatchBlooms.write(spark, root, batchId,
      ids.select(concat(lit("i:"), col(passageCol).cast("string")).as("k")),
      ids.count(), Seq("i"))
  }

  /** Re-derive missing passage-id sidecars and drop dangling ones —
    * the maintenance hook after [[purgeTokenIndex]]/compaction and
    * the convergence path for a store that lost sidecars (crash
    * between batch commit and sidecar rename). Returns the number of
    * sidecars written. */
  def refreshTokenIndexBlooms(spark: org.apache.spark.sql.SparkSession,
      root: String, passageCol: String): Int = {
    val missing = BatchBlooms.danglingSweep(spark, root)
    missing.foreach(id => writeBatchIdBloom(spark, root, id, passageCol))
    missing.size
  }

  /** [[writeTokenIndex]] for SEVERAL batch slices of ONE passage
    * frame in ONE tokenize+embed pass — the bulk-ingest shape (a
    * backfill or a multi-partition daily load): the old per-slice
    * calls each re-derived the (passage, token) pairs from scratch
    * (for chunked corpora that re-chunks the WHOLE corpus per slice —
    * `filter` runs above the chunker) and re-embedded the full
    * vocabulary per slice (most tokens appear in every slice, so the
    * md5-gram embedding ran ~|slices|×). Here the pairs and the
    * vocabulary are computed ONCE (pinned), each slice's rows are a
    * filter + join over the pinned frames, and the independent batch
    * commits overlap ([[ParallelJobs]], guide §2.3/§2.6 — distinct
    * batch ids, the commit protocol is race-hardened).
    *
    * Value-identity with per-slice [[writeTokenIndex]] calls: the
    * slice predicates partition on the passage id, `distinct` on
    * (passage, token) commutes with a passage-id filter, and the
    * vocabulary join only ATTACHES per-token values (deterministic,
    * identical whichever token set they were embedded with) —
    * Round19Spec pins byte-identical store rows. */
  def writeTokenIndexSlices(passages: DataFrame, passageCol: String,
      textCol: String, dim: Int, root: String,
      slices: Seq[(Long, Column)],
      buckets: Int = DefaultBuckets): Unit =
    appendTokenIndexSlices(passages, passageCol, textCol, root, slices,
      buckets, floatVocab(dim), floatValues)

  /** The slices writer body shared by [[writeTokenIndexSlices]] and
    * [[writeTokenIndexInt8Slices]] (`vocabOf`/`values` as in
    * [[appendTokenIndex]]). */
  private def appendTokenIndexSlices(passages: DataFrame,
      passageCol: String, textCol: String, root: String,
      slices: Seq[(Long, Column)], buckets: Int,
      vocabOf: DataFrame => DataFrame, values: Seq[Column]): Unit = Checkpoints.scoped {
    require(slices.nonEmpty, "need at least one slice")
    require(slices.map(_._1).distinct.size == slices.size,
      "duplicate batch ids across slices")
    val spark = passages.sparkSession
    ensureBucketsMeta(spark, root, buckets)
    val pairs = Parallelism.spread(passages, passageCol) // §2.5 floor (r19)
      .select(col(passageCol),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .distinct()
      .transform(Checkpoints.pin) // feeds the vocabulary AND every slice join
    // the distinct's AQE-coalesced layout pins at ~1 partition at gate
    // scale (bytes are tiny, the per-token md5-gram embedding is not —
    // byte-based coalescing can't see compute cost): pin the tiny
    // token frame, spread it, embed parallel
    val toks = pairs.select(col("__tok")).distinct().transform(Checkpoints.pin)
    val vocab = vocabOf(Parallelism.spread(toks, "__tok"))
      .transform(Checkpoints.pin) // embedded ONCE, joined per slice
    ParallelJobs.run(slices.map { case (batchId, pred) => () => {
      // bucket-align BEFORE the vector join (the [[Boilerplate]]
      // bucketAligned discipline): one exchange of the tiny
      // (passage, token) rows buys a buckets-way parallel join +
      // array-build + parquet encode AND exactly one file per bucket
      // dir (an unaligned parallel write fans tasks × buckets small
      // files; the unpinned-aligned write ran the heavy join 1-task)
      val rows = pairs.filter(pred)
        .withColumn("__pb", passageBucket(passageCol, buckets))
        .repartition(buckets, col("__pb"))
        // broadcast FORCED: a pinned frame's size estimate can be
        // pessimistic, and a sort-merge fallback would re-exchange the
        // rows and break the bucket alignment
        .join(broadcast(vocab), Seq("__tok"))
        .select((col(passageCol) +: values :+ col("__pb")): _*)
      dropStaleSidecar(spark, root, batchId)
      BatchStore.append(rows, root, batchId, partitionBy = Seq("__pb"))
      writeBatchIdBloom(spark, root, batchId, passageCol)
    }})
  }

  /** The QUANTIZED token index — [[writeTokenIndex]] with the real
    * ColBERT storage answer: token vectors are symmetrically
    * int8-quantized ([[Quantize.int8AbsMax]] — per-vector absmax,
    * exact cross-engine arithmetic) and persisted as ONE BYTE per
    * component via the native [[graft.plans.Int8Pack]] codec
    * (array<int> in parquet is 4 bytes/component; the 4× storage
    * promise needs the binary narrowing). Cosines over quantized
    * vectors need NO dequantization: the per-vector scale cancels in
    * the cosine up to the floor error (the q135 symmetric-int8
    * discipline), so serving unpacks to exact ints and runs the same
    * fixed-point MaxSim tail — the oracle replays quantization +
    * integer dots, never the bytes. Zero-scale (all-zero) token
    * vectors are dropped at write time; any non-zero vector keeps a
    * ±127 component, so norms never vanish after quantization. */
  def writeTokenIndexInt8(passages: DataFrame, passageCol: String,
      textCol: String, dim: Int, root: String, batchId: Long,
      buckets: Int = DefaultBuckets): Unit =
    appendTokenIndex(passages, passageCol, textCol, root, batchId, buckets,
      int8Vocab(dim), int8Values)

  /** [[writeTokenIndexSlices]] for the int8 index — one
    * tokenize+quantize-embed pass feeding every slice's append, same
    * value-identity argument (the packed per-token codes are a
    * deterministic function of the token). */
  def writeTokenIndexInt8Slices(passages: DataFrame, passageCol: String,
      textCol: String, dim: Int, root: String,
      slices: Seq[(Long, Column)],
      buckets: Int = DefaultBuckets): Unit =
    appendTokenIndexSlices(passages, passageCol, textCol, root, slices,
      buckets, int8Vocab(dim), int8Values)

  /** [[maxSimFromTokenIndex]] over the int8 index: the passage side
    * unpacks stored codes to exact ints (widened to double — dots of
    * dim·127² magnitude are exact IEEE); the ephemeral query side
    * quantizes symmetrically at serve time. Tombstone masking and the
    * candidate-filtered read are identical to the float path. */
  def maxSimFromTokenIndexInt8(spark: org.apache.spark.sql.SparkSession,
      root: String, cands: DataFrame, queries: DataFrame,
      queryCol: String, passageCol: String, textCol: String,
      dim: Int, maxQueryTokens: Int, k: Int): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxQueryTokens >= 1, s"need maxQueryTokens >= 1, got $maxQueryTokens")
    val cb = cands.select(col(queryCol), col(passageCol)).transform(Checkpoints.pin)
    val qt = queryPositions(queries, cb, queryCol, textCol, maxQueryTokens)
    val vocab = embedVocabInt8(qt.select(col("__tok")).distinct(), dim)
      .select(col("__tok"), col("__qv"), col("__qn"))
    val qe = qt.join(vocab, Seq("__tok"))
      .select(col(queryCol), col("__qpos"), col("__qv"), col("__qn"))
    // pinned: feeds the bucket collect AND the candidate join
    val candIds = cb.select(col(passageCol)).distinct().transform(Checkpoints.pin)
    val de = Tombstones.apply(spark, root,
        prunedStoreRead(spark, root, candIds, passageCol)
          .join(candIds, Seq(passageCol)),
        passageCol)
      .withColumn("__dv", transform(
        graft.plans.Int8Codec.unpack(col("__qb")), x => x.cast("double")))
      .withColumn("__dn", sqrt(aggregate(
        transform(col("__dv"), x => x * x), lit(0.0), (a, v) => a + v)))
      .select(col(passageCol), col("__dv"), col("__dn"))
    scoreTail(cb, qe, de, queryCol, passageCol, k)
  }

  /** Maintain the token index FROM A STREAM — the
    * [[LanguageModel.lmStoreSink]] discipline on the vector store:
    * exactly-once under epoch replay ([[BatchStore.epochSink]]; a
    * crash between the batch commit and its Bloom sidecar leaves a
    * batch that is simply always scanned until
    * [[refreshTokenIndexBlooms]] — sound, the shared sidecar
    * discipline). Each streamed passage must
    * arrive wholly in one epoch (the per-passage distinct-token
    * collapse happens within the batch), which file/kafka sources
    * carrying whole documents guarantee. Serving is independent of
    * epoch chunking — the store is a union of per-passage rows
    * (q200 pins the streamed store against the batch build). */
  def tokenIndexSink(passageCol: String, textCol: String, dim: Int,
      root: String): (DataFrame, Long) => Unit =
    BatchStore.epochSink(root)(
      writeTokenIndex(_, passageCol, textCol, dim, root, _))

  /** ERASE passages from the token index — the shared tombstone
    * discipline ([[Tombstones]]): commit only the removed ids; every
    * serve masks them after its candidate filter, [[purgeTokenIndex]]
    * rewrites them away at the next maintenance window. */
  def deleteFromTokenIndex(ids: DataFrame, passageCol: String,
      root: String, batchId: Long): Unit =
    Tombstones.append(ids, passageCol, root, batchId)

  /** Physically drop tombstoned passages and retire applied
    * tombstones ([[Tombstones.purge]]) — re-partitioned by `__pb`
    * on a bucketed store, so the compacted batch keeps the directory
    * layout pruned serving depends on (the [[Similarity
    * .purgeIvfPqIndex]] rule). Serving before and after is
    * value-identical (q199 pins it in-plan). */
  def purgeTokenIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, passageCol: String, newBatchId: Long): Int = {
    val n = Tombstones.purge(spark, root, passageCol, newBatchId,
      partitionBy =
        if (readBucketsMeta(spark, root).isDefined) Seq("__pb") else Seq.empty)
    // purge compacts every batch into one: sweep the replaced
    // batches' sidecars and re-sketch the merged batch so serves
    // converge back to batch-pruned instead of scanning flat forever
    refreshTokenIndexBlooms(spark, root, passageCol)
    n
  }

  /** [[maxSimRerank]] served from the persisted token index — the
    * production serving shape: the passage side reads PRECOMPUTED
    * vectors from only the candidate ids' bucket dirs
    * ([[prunedStoreRead]] — input bytes scale with candidates, not
    * store size), candidate-filtered exactly, tombstones masked
    * AFTER the filter (the [[Tombstones.apply]] discipline); only
    * the ephemeral queries embed at serve time. Value-identical to
    * the in-memory path over the same passages (oracle-gated, q198);
    * erased passages drop out of the ranking and the survivors
    * re-rank (q199). */
  def maxSimFromTokenIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, cands: DataFrame, queries: DataFrame,
      queryCol: String, passageCol: String, textCol: String,
      dim: Int, maxQueryTokens: Int, k: Int): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxQueryTokens >= 1, s"need maxQueryTokens >= 1, got $maxQueryTokens")
    val cb = cands.select(col(queryCol), col(passageCol)).transform(Checkpoints.pin)
    val qt = queryPositions(queries, cb, queryCol, textCol, maxQueryTokens)
    // query-side vocabulary embedded at serve time (queries are
    // ephemeral); vectors are per-token deterministic, so the split
    // vocabulary build scores identically to q197's joint one
    val vocab = embedVocab(qt.select(col("__tok")).distinct(), dim)
    val qe = qt.join(vocab, Seq("__tok"))
      .select(col(queryCol), col("__qpos"),
        col("__tv").as("__qv"), col("__tn").as("__qn"))
    // pinned: feeds the bucket collect AND the candidate join
    val candIds = cb.select(col(passageCol)).distinct().transform(Checkpoints.pin)
    val de = Tombstones.apply(spark, root,
      prunedStoreRead(spark, root, candIds, passageCol)
        .join(candIds, Seq(passageCol)),
      passageCol)
    scoreTail(cb, qe, de, queryCol, passageCol, k)
  }
}
