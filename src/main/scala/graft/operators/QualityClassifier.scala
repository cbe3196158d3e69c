package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained quality classification — naive Bayes over hashed n-gram
  * features: the SUPERVISED sibling of [[LanguageModel
  * .classifyLangByTrigrams]]'s language id (same exact-integer argmax
  * machinery, different evidence), and of [[DataSelection]]'s DSIR
  * (same hashed unigram ∪ bigram feature space, labels instead of a
  * target distribution). The fastText-style quality filter every
  * large pretraining pipeline runs (GPT-3's WebText-vs-Common-Crawl
  * classifier, Brown et al. 2020, §A): train per-class feature counts
  * on a LABELED slice, score every candidate by class-conditional
  * Laplace probability, keep the docs that classify as the good
  * class.
  *
  * Arithmetic is the repo's cross-engine exact-argmax discipline
  * (q185): a doc's class score is Σ over its feature occurrences of
  * the fixed-point `floor((c(b,label)+1)·2³⁰/(c(·label)+V))` — all
  * longs, so the argmax is exact integer comparison (ties break on
  * label ascending); V = distinct feature-bucket types in training,
  * shared across classes. The unseen-feature term is a PER-CLASS
  * CONSTANT `floor(1·2³⁰/(cl+V))`, so scoring never explodes
  * candidates × classes: one join of candidate features against the
  * seen counts (the only corpus-scale exchange, keyed on bucket), a
  * per-(doc, class) partial aggregate, then the missing-mass term
  * from a classes-sized broadcast.
  *
  * Scale (100 TB): hashing fixes the model at (classes × B) rows
  * regardless of vocabulary — always broadcastable; the only
  * corpus-scale work is the candidates' own feature pass. The model
  * is a count frame mergeable by SUM, so the persisted form follows
  * the LM-store delta discipline verbatim (append slices, erase by
  * negated counts, compact behind the non-negative guard) —
  * [[writeQualityStore]] and friends; oracle-gated end-to-end (q210).
  */
object QualityClassifier {

  /** Train the classifier: per-class hashed-feature counts
    * `(label, bucket, cnt)` from a labeled corpus — the ONLY
    * artifact (class priors derive from it if wanted; the argmax here
    * is pure likelihood, matching a balanced-threshold filter).
    * Mergeable by SUM, hence maintainable as [[BatchStore]] deltas. */
  def featureCounts(train: DataFrame, labelCol: String, textCol: String,
      buckets: Int): DataFrame =
    DataSelection.hashedFeatures(train, labelCol, textCol, buckets)
      .groupBy(col(labelCol).as("label"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Classify docs by trained per-class feature counts — exact
    * integer argmax of the Laplace fixed-point class score. Returns
    * `(id, label_pred, score_fp)`; docs with no features (zero
    * tokens) are absent — nothing to judge. The returned frame is
    * the call's only live checkpoint; the counts pin is released
    * before return. */
  def classify(cand: DataFrame, counts: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame = Checkpoints.scoped {
    val cb = Checkpoints.pin(counts) // feeds cl, V, and the seen join
    classifyWith(cand, cb, classModel(cb), idCol, textCol, buckets)
  }

  /** The classifier's model-DERIVED constants — per-class totals,
    * vocabulary size, and the Laplace zero-count floor — as a
    * classes-sized frame `(label, cl, v, floor0)`. Pure function of
    * the counts frame; a streamed pipeline caches it per store
    * version ([[ModelCache]]) so epochs stop re-running two
    * model-sized aggregations per micro-batch (r18: at production
    * model sizes those re-aggregates are the classifier serve's only
    * history-scale term). */
  def classModel(counts: DataFrame): DataFrame = {
    val cl = counts.groupBy(col("label")).agg(sum(col("cnt")).as("cl"))
    val v = counts.agg(countDistinct(col("bucket")).as("v"))
    cl.crossJoin(broadcast(v))
      .withColumn("floor0", floor(
        lit(1L).cast("double") * lit(1073741824.0)
          / (col("cl") + col("v"))).cast("long"))
      .select(col("label"), col("cl"), col("v"), col("floor0"))
  }

  /** [[classify]] against caller-owned MATERIALIZED model frames: `cb`
    * = the merged counts, `classes` = [[classModel]]'s frame — both
    * typically [[ModelCache]] pins. Never checkpoints or releases
    * them; the returned frame is the call's only new checkpoint.
    * Arithmetic identical to [[classify]]. */
  def classifyWith(cand: DataFrame, cb: DataFrame, classes: DataFrame,
      idCol: String, textCol: String, buckets: Int): DataFrame = {
    // the hashed candidate features feed the per-doc totals AND the
    // seen join — deliberately NOT checkpointed: measured at sf0.1,
    // materializing the corpus-scale feature rows costs more than the
    // second md5 pass (6.9 s vs 4.9 s for the q210 lifecycle gate), so
    // the q141 barrier discipline does not apply here (the per-row
    // expression is one md5 per gram, cheaper than blockifying the
    // exploded rows; same trade as classifyLangByTrigrams' trigrams)
    val feats = DataSelection.hashedFeatures(cand, idCol, textCol, buckets)
    val nF = feats.groupBy(col(idCol)).agg(count(lit(1)).as("n_feats"))
    val seen = feats.join(cb, Seq("bucket"))
      .join(broadcast(classes.select(col("label"), col("cl"), col("v"))),
        Seq("label"))
      .withColumn("__contrib", floor(
        (col("cnt") + lit(1L)).cast("double") * lit(1073741824.0)
          / (col("cl") + col("v"))).cast("long"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("__contrib")).as("seen_fp"),
        count(lit(1)).as("n_seen"))
    val byDoc = Window.partitionBy(col(idCol))
      .orderBy(desc("score_fp"), col("label"))
    nF
      .crossJoin(broadcast(classes.select(col("label"), col("floor0"))))
      .join(seen, Seq(idCol, "label"), "left")
      .withColumn("score_fp",
        coalesce(col("seen_fp"), lit(0L)) +
          (col("n_feats") - coalesce(col("n_seen"), lit(0L))) * col("floor0"))
      .withColumn("__rn", row_number().over(byDoc))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("label_pred"), col("score_fp"))
      .transform(Checkpoints.pin)
  }

  // ------------------------------------------ persisted model store

  /** Append one labeled slice's per-class feature counts to the
    * persisted model at `root` — the [[LanguageModel.writeLmStore]]
    * delta discipline on (label, bucket)-keyed counts. */
  def writeQualityStore(train: DataFrame, labelCol: String, textCol: String,
      buckets: Int, root: String, batchId: Long): Unit =
    BatchStore.append(featureCounts(train, labelCol, textCol, buckets),
      root, batchId)

  /** Maintain the model FROM A STREAM — the [[LanguageModel
    * .lmStoreSink]] epoch discipline on the classifier's count store:
    * exactly-once under replay ([[BatchStore.epochSink]] — single dir,
    * nothing to heal). Served classification is
    * epoch-chunking-independent (counts merge by SUM; q213 pins the
    * streamed store against single-shot training). */
  def qualityStoreSink(labelCol: String, textCol: String, buckets: Int,
      root: String): (DataFrame, Long) => Unit =
    BatchStore.epochSink(root)(
      writeQualityStore(_, labelCol, textCol, buckets, root, _))

  /** Erase labeled documents from the persisted model — negated
    * per-class feature counts ([[LanguageModel.deleteFromLmStore]]'s
    * contract: each doc at most once, only previously-appended docs,
    * fresh batchId). */
  def deleteFromQualityStore(deleted: DataFrame, labelCol: String,
      textCol: String, buckets: Int, root: String, batchId: Long): Unit =
    BatchStore.append(
      featureCounts(deleted, labelCol, textCol, buckets)
        .select(col("label"), col("bucket"), (-col("cnt")).as("cnt")),
      root, batchId)

  /** Fold the model store's delta batches into one physically-clean
    * dir — fail loudly on negative net counts, drop net-zero keys
    * ([[LanguageModel.foldNonNegativeCounts]]). Serving before and
    * after is value-identical (q210 pins it in-plan). */
  def compactQualityStore(spark: SparkSession, root: String,
      newBatchId: Long): Int =
    BatchStore.compactWith(spark, root, newBatchId,
      m => LanguageModel.foldNonNegativeCounts(m, Seq("label", "bucket")))

  /** [[classify]] served from the persisted model store — one
    * (label, bucket)-keyed re-aggregate (net-zero rows dropped) then
    * the identical exact-integer argmax; value-identical to training
    * on the appended-minus-erased corpus (oracle-gated, q210). */
  def classifyFromStore(spark: SparkSession, root: String, cand: DataFrame,
      idCol: String, textCol: String, buckets: Int): DataFrame =
    classify(cand,
      LanguageModel.mergedStoreCounts(spark, root, Seq("label", "bucket")),
      idCol, textCol, buckets)
}
