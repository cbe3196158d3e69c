package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import TextFunctions.{hash60, tokens}

/** Importance-weighted data selection over hashed n-gram features —
  * the DSIR recipe (Xie et al. 2023, "Data Selection for Language
  * Models via Importance Resampling"): fit a feature distribution on
  * a small TARGET corpus (the curated, in-domain sample you wish the
  * whole corpus looked like) and on the RAW candidate pool, then
  * score every candidate by how much its features look drawn from the
  * target rather than the pool, and keep the top of the ranking. The
  * classifier-free cousin of quality filtering: no labels, no model
  * runtime — two count vectors and a ratio.
  *
  * Feature space: unigrams ∪ bigrams of the whitespace tokens, hashed
  * into `buckets` buckets by the 60-bit md5 kernel
  * ([[TextFunctions.hash60]] — cross-engine-deterministic, q174's
  * replay discipline). Hashing fixes the model dimension at B
  * regardless of corpus vocabulary — the property that makes the
  * distributions BROADCASTABLE at 100 TB.
  *
  * Scoring is the repo's no-transcendentals fixed-point discipline:
  * DSIR's per-feature log-ratio `log p̂_T(b) − log p̂_R(b)` is replaced
  * by the RATIO itself in fixed point — per bucket
  * `w_b = floor( (t_b+1)·(N_R+B) · 2³⁰ / ((r_b+1)·(N_T+B)) )`
  * (add-one smoothing on both sides; a transcendental ln() can differ
  * in the last ulp across engines, the BM25/LM rule), a doc's score is
  * the exact long Σ over its feature OCCURRENCES of `w_bucket`
  * (= Σ_b c_b·w_b), and the ranking key is ONE double division
  * (score / n_feats — per-feature mean importance, so length alone
  * neither inflates nor deflates a doc). The double products can
  * exceed 2⁵³ at corpus scale so they are not exact — but they are
  * the SAME IEEE doubles in any engine mirroring the parenthesization
  * (q151's discipline), which is what the oracle hash needs.
  *
  * Scale (100 TB): the target and raw distributions are B-row frames
  * (one feature-keyed shuffle each, map-side partials); the weights
  * frame joins them bucket-keyed and is BROADCAST into scoring; the
  * only corpus-scale work is the candidates' own feature explode →
  * per-(doc, bucket) partial aggregate → per-doc sum → top-k
  * (TakeOrdered, no global sort). Nothing is ever all-pairs and no
  * distribution is ever collected to the driver.
  *
  * Checkpoint lifecycle (the q141 multi-consumer discipline): the
  * candidate feature frame feeds BOTH the raw distribution and the
  * per-doc scoring, so it is pinned once and released before return;
  * same for the two B-row count frames (each feeds a weight join and
  * a totals aggregate). The returned k-row frame is the call's only
  * live checkpoint.
  */
object DataSelection {

  /** Hashed feature occurrences of each doc: `(id, bucket)`, one row
    * per unigram and per bigram occurrence. `hash60` is non-negative
    * (60-bit), so plain `%` is the bucket in both engines. Shared
    * with [[QualityClassifier]] (same feature space, supervised
    * twin). */
  private[operators] def hashedFeatures(df: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame = {
    // NO Parallelism.spread here (r19, measured): this frame feeds TWO
    // consumers (per-doc totals + the seen join), so a spread exchange
    // runs twice, and the per-slice gram volume is small enough that
    // the 64-task fan-out cost 2× the single-task md5 work it replaced
    // (q243's classifier gate: 3.1 s → 7.2 s job time). The serve's
    // candidate frames are slice-sized at any corpus scale.
    val t = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    val uni = t.select(col(idCol), explode(col("__t")).as("__g"))
    val bi = t.filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("__g"))
    uni.unionByName(bi)
      .select(col(idCol), (hash60(col("__g")) % buckets).as("bucket"))
  }

  /** Select the `k` candidates whose hashed-n-gram features look most
    * drawn from `target`'s distribution rather than the candidate
    * pool's own (DSIR with the pool as the raw distribution). Returns
    * `(id, n_feats, dsir_fp, dsir_avg)` descending by `dsir_avg`
    * (id tiebreak): dsir_fp = Σ w_bucket over the doc's feature
    * occurrences (exact long), dsir_avg = dsir_fp / n_feats. Docs
    * with zero tokens have no features and are absent (nothing to
    * judge). */
  def dsirTopK(candidates: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int, k: Int): DataFrame =
    Checkpoints.scoped(Checkpoints.pin(
      dsirScored(candidates, target, idCol, textCol, buckets, k)))

  /** [[dsirTopK]] minus the result checkpoint — the pre-checkpoint
    * plan stays inspectable (PlanSpec pins the broadcast weight join
    * and the product-free shape; a checkpointed frame's plan is just
    * a block scan). Its internal pins live in the caller's scope. */
  private[graft] def dsirScored(candidates: DataFrame, target: DataFrame,
      idCol: String, textCol: String, buckets: Int,
      k: Int): DataFrame =
    dsirScoredFromCounts(candidates,
      targetBucketCounts(target, idCol, textCol, buckets)
        .select(col("bucket"), col("cnt").as("t_cnt")),
      idCol, textCol, buckets, k)

  /** The target corpus's per-bucket feature counts `(bucket, cnt)` —
    * the DSIR model artifact: B-bounded, mergeable by SUM (disjoint
    * target slices append, erasure appends negated counts), which is
    * what makes the persisted form ([[writeDsirTargetStore]])
    * maintainable by the count-store delta discipline. */
  def targetBucketCounts(target: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    hashedFeatures(target, idCol, textCol, buckets)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  private def dsirScoredFromCounts(candidates: DataFrame, targetCounts: DataFrame,
      idCol: String, textCol: String, buckets: Int,
      k: Int): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    require(k >= 1, s"need k >= 1, got $k")
    // pin: feeds the raw distribution AND the per-doc scoring
    val feats = hashedFeatures(candidates, idCol, textCol, buckets)
      .transform(Checkpoints.pin)
    // pin: each B-row count frame feeds its weight join AND a totals agg
    val rc = feats.groupBy(col("bucket"))
      .agg(count(lit(1)).as("r_cnt")).transform(Checkpoints.pin)
    val tc = Checkpoints.pin(targetCounts)
    // empty (or fully-erased, all-net-zero) distributions sum to NULL
    // — coalesce to 0: add-one smoothing still defines every ratio
    // (an empty target scores all candidates by uniform weights)
    // instead of silently returning NULL scores for every row
    val nrF = rc.agg(coalesce(sum(col("r_cnt")), lit(0L)).as("nr"))
    val ntF = tc.agg(coalesce(sum(col("t_cnt")), lit(0L)).as("nt"))
    // every candidate bucket is in rc by construction, so the weight
    // domain is rc's; buckets the target never hit smooth to t_b = 0
    val weights = rc.join(tc, Seq("bucket"), "left")
      .crossJoin(broadcast(ntF)).crossJoin(broadcast(nrF))
      .withColumn("w", floor(
        (coalesce(col("t_cnt"), lit(0L)) + lit(1L)).cast("double")
          * (col("nr") + buckets)
          * lit(1073741824.0)
          / ((coalesce(col("r_cnt"), lit(0L)) + lit(1L)).cast("double")
            * (col("nt") + buckets))).cast("long"))
      .select(col("bucket"), col("w"))
    feats.groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("__c"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("__c") * col("w")).as("dsir_fp"),
        sum(col("__c")).as("n_feats"))
      .withColumn("dsir_avg", col("dsir_fp").cast("double") / col("n_feats"))
      .select(col(idCol), col("n_feats"), col("dsir_fp"), col("dsir_avg"))
      .orderBy(desc("dsir_avg"), col(idCol))
      .limit(k)
  }

  // ------------------------------------- persisted target distribution

  /** Append one curated slice's bucket counts to the persisted DSIR
    * target model at `root` — the LM-store delta discipline
    * ([[LanguageModel.writeLmStore]]) on the selection model: counts
    * merge by SUM, so the target distribution is maintained by
    * appends and served as the sum-on-read union, never retrained. */
  def writeDsirTargetStore(target: DataFrame, idCol: String, textCol: String,
      buckets: Int, root: String, batchId: Long): Unit =
    BatchStore.append(targetBucketCounts(target, idCol, textCol, buckets),
      root, batchId)

  /** Maintain the target model FROM A STREAM — the
    * [[LanguageModel.lmStoreSink]] epoch discipline on the selection
    * model: exactly-once under replay ([[BatchStore.epochSink]] —
    * single dir, nothing to heal). Served selection is
    * epoch-chunking-independent (bucket counts merge by SUM; q202
    * pins the streamed store against single-shot fitting). */
  def dsirStoreSink(idCol: String, textCol: String, buckets: Int,
      root: String): (DataFrame, Long) => Unit =
    BatchStore.epochSink(root)(
      writeDsirTargetStore(_, idCol, textCol, buckets, root, _))

  /** ERASE documents from the persisted target model — negated bucket
    * counts ([[LanguageModel.deleteFromLmStore]]'s contract: each doc
    * at most once, only previously-appended docs, fresh batchId). A
    * bucket netted to zero behaves exactly as never-seen (the add-one
    * smoothing maps both to t+1 = 1), so served selection is
    * value-identical to retraining on the remaining target. */
  def deleteFromDsirTargetStore(deleted: DataFrame, idCol: String,
      textCol: String, buckets: Int, root: String, batchId: Long): Unit =
    BatchStore.append(
      targetBucketCounts(deleted, idCol, textCol, buckets)
        .select(col("bucket"), (-col("cnt")).as("cnt")),
      root, batchId)

  /** Fold the target store's delta batches into one physically-clean
    * dir — fail loudly on negative net counts (erasure-contract
    * violations, [[LanguageModel.foldNonNegativeCounts]]), drop
    * net-zero buckets, one committed batch. Serving before and after
    * is value-identical (q201 pins it in-plan). */
  def compactDsirStore(spark: SparkSession, root: String,
      newBatchId: Long): Int =
    BatchStore.compactWith(spark, root, newBatchId,
      m => LanguageModel.foldNonNegativeCounts(m, Seq("bucket")))

  /** [[dsirTopK]] with the target distribution summed from the
    * store's committed batches — one bucket-keyed re-aggregate
    * (net-zero buckets dropped), then the identical scoring;
    * value-identical to single-shot selection against the
    * appended-minus-erased target (oracle-gated, q201). */
  def dsirTopKFromStore(spark: SparkSession, root: String,
      candidates: DataFrame, idCol: String, textCol: String,
      buckets: Int, k: Int): DataFrame = {
    val tc = BatchStore.read(spark, root)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("t_cnt"))
      .filter(col("t_cnt") =!= 0)
    Checkpoints.scoped(Checkpoints.pin(dsirScoredFromCounts(candidates, tc,
      idCol, textCol, buckets, k)))
  }
}
