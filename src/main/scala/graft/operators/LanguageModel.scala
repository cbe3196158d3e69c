package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextFunctions.tokens

/** Count-based bigram language-model scoring — the KenLM-style
  * perplexity-proxy quality filter a pretraining pipeline runs over
  * every candidate document: train token-level bigram counts on a
  * REFERENCE corpus (curated, high-quality), then score candidates by
  * how probable their token sequences are under it. Low average
  * probability = surprising text = boilerplate, non-language, or
  * out-of-domain — the classic third signal next to the rule-based
  * quality score (q26) and n-gram repetition (q154).
  *
  * Arithmetic is the repo's cross-engine discipline end-to-end:
  *  - Per-bigram contribution is LAPLACE-SMOOTHED FIXED-POINT:
  *    `floor((c(w1,w2)+1) · 2³⁰ / (c(w1·)+V))` as a LONG, where
  *    `c(w1·)` = occurrences of w1 as a bigram LEFT (the conditional's
  *    denominator) and V = distinct CONTINUATION types (distinct w2) —
  *    both derivable from the bigram counts alone, which is what makes
  *    the counts a self-contained, MERGEABLE model artifact
  *    ([[writeLmStore]]). No logarithm: a transcendental ln() can
  *    differ in the last ulp across engines (the BM25 rule); the
  *    fixed-point probabilities rank identically for a fixed V.
  *  - A document's score is the SUM of its contributions — exact
  *    longs, order-free — and the ranking key is ONE double division
  *    (sum / n_bigrams), bit-reproducible from exact inputs.
  *  - The double product `(c+1) · 2³⁰` can exceed 2⁵³ on a 100 TB
  *    corpus (c up to ~10¹²), so it is NOT exact — but it is the SAME
  *    IEEE double in any engine mirroring the parenthesization, which
  *    is all the oracle hash needs (q151's discipline).
  *
  * Known limitation (inherent to pure Laplace, no backoff): an
  * entirely UNSEEN context scores 1/V, while an unseen continuation
  * of a frequent seen context scores 1/(c(w1·)+V) — smaller. So the
  * model orders in-domain text above degenerate text (the guarantee
  * LanguageModelSpec pins) but does not order noise against shuffled
  * in-domain tokens; [[stupidBackoffScore]] adds the backoff that
  * does, from the same count frame, and [[trigramBackoffScore]]
  * extends the chain to n=3.
  *
  * Lifecycle: [[Checkpoints]].
  *
  * Scale (100 TB): the counts frame is bigram-TYPE-sized (Heaps-law
  * sublinear), built by one shuffle with map-side partial counts; the
  * left-count frame re-aggregates it (vocab-sized); V is a 1-row
  * broadcast. Scoring is two hash joins keyed on (w1,w2) and w1 —
  * candidate-bigram-sized exchanges, no hint so AQE broadcasts the
  * count side only when it truly fits — then a per-doc partial
  * aggregate. Nothing is ever all-pairs; unseen bigrams/lefts survive
  * as LEFT-join nulls → the smoothed floor of 1/(0+V).
  */
object LanguageModel {

  /** Consecutive token pairs of each doc: `(id, w1, w2)` — docs with
    * fewer than two tokens contribute nothing (and score as absent:
    * there is no sequence to judge). */
  private def bigrams(df: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    val carried = carryCols.map(col)
    // NO Parallelism.spread here (r19, measured): the bigram zip/
    // explode is cheap relative to the exchange at training-slice and
    // candidate-slice sizes — the spread cost q181/q182/q194/q211
    // 15-25% each. Contrast charTrigrams, whose per-CHAR explode is
    // two orders heavier per row and keeps its spread (q185 1.6×).
    df.select(col(idCol) +: carried :+ tokens(col(textCol)).as("__t"): _*)
      .filter(size(col("__t")) >= 2)
      .select(col(idCol) +: carried :+ explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"): _*)
      .select(col(idCol) +: carried :+ col("__bg.w1").as("w1") :+
        col("__bg.w2").as("w2"): _*)
  }

  /** Consecutive token triples: `(id, w1, w2, w3)` — docs with fewer
    * than three tokens contribute nothing at n=3 (the [[bigrams]]
    * rule one order up). */
  private def trigrams(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 3)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__t")) - 2),
        i => struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2"),
          element_at(col("__t"), i + 2).as("w3")))).as("__tg"))
      .select(col(idCol), col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3"))

  /** Train the model: corpus bigram counts `(w1, w2, cnt)` — the ONLY
    * artifact; left counts and V derive from it ([[bigramLmScore]]),
    * and counts from disjoint corpus slices MERGE by summing, which is
    * why the persisted form ([[writeLmStore]]) can be maintained by
    * appends. One shuffle, map-side partials. */
  def bigramCounts(train: DataFrame, idCol: String, textCol: String): DataFrame =
    bigrams(train, idCol, textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))

  /** Corpus trigram counts `(w1, w2, w3, cnt)` — the n=3 artifact
    * behind [[trigramBackoffScore]]; mergeable by SUM exactly like
    * [[bigramCounts]]. */
  def trigramCounts(train: DataFrame, idCol: String, textCol: String): DataFrame =
    trigrams(train, idCol, textCol)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("cnt"))

  /** Score `candidates` under trained `counts`: the `k` LOWEST average
    * fixed-point bigram probabilities — the docs a quality filter
    * flags first. Returns `(id, n_bigrams, lm_fp, lm_avg)` ascending
    * by `lm_avg` (id tiebreak): lm_fp = Σ floor((c+1)·2³⁰/(cl+V))
    * exact long, lm_avg = lm_fp / n_bigrams (one double division).
    * The returned frame is the call's only live checkpoint (k rows);
    * the counts pin is released before return. */
  def bigramLmScore(candidates: DataFrame, counts: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"need k >= 1, got $k")
    // barrier: counts feeds the (w1,w2) join, the left-count re-agg,
    // AND the V aggregate — without it each consumer re-runs the
    // training scan (the q141 multi-consumer discipline).
    val cb = Checkpoints.pin(counts)
    scoredAll(candidates, cb, idCol, textCol)
      .orderBy(col("lm_avg"), col(idCol))
      .limit(k)
      .transform(Checkpoints.pin) // the k-row result owns the data now
  }

  /** The Laplace fixed-point scoring chain over a PINNED counts frame,
    * every candidate, unranked — shared by the flag-the-worst-k path
    * ([[bigramLmScore]]) and the keep-the-best filter
    * ([[lmQualityFilter]]). */
  private def scoredAll(candidates: DataFrame, cb: DataFrame,
      idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame =
    scoredAllWith(candidates, cb, lmContextTotals(cb), lmVocabSize(cb),
      idCol, textCol, carryCols)

  /** The LM's model-DERIVED per-context totals `(w1, cl)` — a pure
    * function of the counts frame. A streamed pipeline caches it per
    * store version ([[ModelCache]]) so epochs stop re-running a
    * model-sized aggregation per micro-batch (r18: at production
    * model sizes this re-aggregate is the LM serve's only
    * history-scale term). */
  def lmContextTotals(counts: DataFrame): DataFrame =
    counts.groupBy(col("w1")).agg(sum(col("cnt")).as("cl"))

  /** The LM's vocabulary size `(v)` as a one-row frame — the Laplace
    * denominator's other model-derived constant; cache like
    * [[lmContextTotals]]. */
  def lmVocabSize(counts: DataFrame): DataFrame =
    counts.agg(countDistinct(col("w2")).as("v"))

  /** [[scoredAll]] against caller-owned model frames (`cb` counts,
    * `cl` = [[lmContextTotals]], `v` = [[lmVocabSize]] — typically
    * [[ModelCache]] pins; never checkpointed or released here).
    * Arithmetic identical. */
  private def scoredAllWith(candidates: DataFrame, cb: DataFrame,
      cl: DataFrame, v: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    val carried = carryCols.map(col)
    // carryCols (e.g. the quality gate's group key) ride the single
    // candidate scan — grouping by (id, carry) is grouping by id
    // since the carries are per-doc attributes; no second scan.
    bigrams(candidates, idCol, textCol, carryCols)
      .join(cb, Seq("w1", "w2"), "left")
      .join(cl, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("__contrib", floor(
        (coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double")
          * lit(1073741824.0)
          / (coalesce(col("cl"), lit(0L)) + col("v"))).cast("long"))
      .groupBy(col(idCol) +: carried: _*)
      .agg(sum(col("__contrib")).as("lm_fp"),
        count(lit(1)).as("n_bigrams"))
      .withColumn("lm_avg", col("lm_fp").cast("double") / col("n_bigrams"))
      .select(col(idCol) +: carried :+ col("n_bigrams") :+ col("lm_fp") :+
        col("lm_avg"): _*)
  }

  /** The KenLM-style PERPLEXITY QUALITY GATE every real pretraining
    * pipeline runs (CCNet's third stage), composed from parts this
    * library already serves: score EVERY candidate under the trained
    * bigram LM (fixed-point, hash-exact) and keep, WITHIN EACH GROUP
    * (source/domain), the docs at or above the group's `cutQ`-quantile
    * of `lm_avg` — per-source thresholds ([[Sampling
    * .groupQuantileDisc]]'s exact order statistic, q147's discipline)
    * so one spammy source is judged by its own distribution, not the
    * clean sources'. Keep fraction ≈ 1 − cutQ (ties at the cutoff are
    * kept). Returns `(idCol, groupCol, n_bigrams, lm_fp, lm_avg)`;
    * docs with < 2 tokens have no score and are dropped. The returned
    * frame is the call's only live checkpoint.
    *
    * Scale: the scoring is [[bigramLmScore]]'s shape (nothing
    * all-pairs); the quantile is the two-level histogram selection
    * that never buffers a group; the cutoff frame is groups-sized and
    * broadcast. `candidates` is scanned once into the pinned scored
    * frame; everything downstream reads that. */
  def lmQualityFilter(candidates: DataFrame, counts: DataFrame,
      idCol: String, textCol: String, groupCol: String,
      cutQ: Double): DataFrame = Checkpoints.scoped {
    require(cutQ > 0 && cutQ < 1, s"cutQ must be in (0,1), got $cutQ")
    val cb = Checkpoints.pin(counts)
    // pin: the scored frame feeds the quantile's passes AND the keep
    // join (the q141 multi-consumer discipline); groupCol rides the
    // one candidate scan inside scoredAll — no second corpus join.
    val scored = scoredAll(candidates, cb, idCol, textCol,
        carryCols = Seq(groupCol))
      .transform(Checkpoints.pin)
    val cut = Sampling.groupQuantileDisc(scored, groupCol, "lm_avg", q = cutQ)
      .select(col(groupCol), col("quantile").as("__cut"))
    scored.join(broadcast(cut), Seq(groupCol))
      .filter(col("lm_avg") >= col("__cut"))
      .select(col(idCol), col(groupCol), col("n_bigrams"),
        col("lm_fp"), col("lm_avg"))
      .transform(Checkpoints.pin)
  }

  /** The ABSOLUTE-threshold perplexity gate served from the persisted
    * LM store — the streaming-friendly twin of
    * [[lmQualityFilterFromStore]]: keep candidates whose fixed-point
    * average `lm_avg` is at or above a FIXED cut. A per-batch
    * quantile would depend on micro-batch composition (a streamed
    * run could keep different docs than the batch twin); the
    * absolute cut is per-doc deterministic given the store, so a
    * stream of slices keeps EXACTLY the docs a single batch pass
    * keeps (q221's pin). Production learns the cut offline on a
    * calibration sample (the q211 quantile path); docs with < 2
    * tokens have no score and are dropped. Returns
    * `(idCol, n_bigrams, lm_fp, lm_avg)`; the returned frame is the
    * call's only live checkpoint. */
  def lmThresholdFilterFromStore(spark: SparkSession, root: String,
      candidates: DataFrame, idCol: String, textCol: String,
      minAvgFp: Double): DataFrame = Checkpoints.scoped {
    val cb = mergedStoreCounts(spark, root, Seq("w1", "w2"))
      .transform(Checkpoints.pin)
    lmThresholdFilter(candidates, cb, idCol, textCol, minAvgFp)
  }

  /** [[lmThresholdFilterFromStore]] against an ALREADY-MATERIALIZED
    * counts frame — the hook a cross-epoch model cache needs
    * ([[ModelCache]]): the caller owns the counts pin (it feeds the
    * row-count, vocabulary and seen-join consumers, so it must be a
    * checkpointed/staged frame, never a live plan); this call never
    * releases it. Returned frame is the call's only NEW checkpoint. */
  def lmThresholdFilter(candidates: DataFrame, counts: DataFrame,
      idCol: String, textCol: String, minAvgFp: Double): DataFrame =
    scoredAll(candidates, counts, idCol, textCol)
      .filter(col("lm_avg") >= minAvgFp)
      .transform(Checkpoints.pin)

  /** [[lmThresholdFilter]] against caller-owned model frames (the
    * [[ModelCache]] hook: `cb` counts + [[lmContextTotals]] +
    * [[lmVocabSize]], all pinned by the caller) — the streamed DAG's
    * steady-state serve pays zero model-sized aggregations per epoch. */
  def lmThresholdFilterWith(candidates: DataFrame, cb: DataFrame,
      cl: DataFrame, v: DataFrame, idCol: String, textCol: String,
      minAvgFp: Double): DataFrame =
    scoredAllWith(candidates, cb, cl, v, idCol, textCol)
      .filter(col("lm_avg") >= minAvgFp)
      .transform(Checkpoints.pin)

  /** [[lmQualityFilter]] with counts summed from the persisted LM
    * store — the production composition: the store is maintained by
    * appends/erasures ([[writeLmStore]]/[[deleteFromLmStore]]), and
    * every curation run filters against the CURRENT model with no
    * retraining (oracle-gated, q211). */
  def lmQualityFilterFromStore(spark: SparkSession, root: String,
      candidates: DataFrame, idCol: String, textCol: String,
      groupCol: String, cutQ: Double): DataFrame =
    lmQualityFilter(candidates, mergedStoreCounts(spark, root, Seq("w1", "w2")),
      idCol, textCol, groupCol, cutQ)

  /** [[bigramLmScore]] with STUPID BACKOFF smoothing (Brants et al.
    * 2007, "Large Language Models in Machine Translation" — the
    * score web-scale LMs actually serve, chosen there precisely
    * because it needs no discount fitting and distributes as pure
    * count arithmetic):
    *  - seen bigram: the MLE `c(w1,w2) / c(w1·)`;
    *  - unseen bigram: back OFF to the unigram `0.4 · c(·w2) / N`
    *    (continuation count over total bigrams) instead of Laplace's
    *    flat 1/(c(w1·)+V);
    *  - w2 never seen at all: 0.
    * This fixes the Laplace artifact [[bigramLmScore]] documents:
    * noise no longer outscores shuffled in-domain tokens, because an
    * unseen continuation now scores by ITS OWN corpus frequency, not
    * by how novel its context is (LanguageModelSpec pins the full
    * garbled < shuffled < in-domain ordering). Same fixed-point
    * discipline: per-bigram floor(2³⁰·S) longs, order-free exact sum,
    * one double division as the ranking key; 0.4 parses to the same
    * IEEE double in any engine, and every contribution is a fixed
    * parenthesization of exact counts. Same scale and checkpoint
    * shape as [[bigramLmScore]] plus one more vocab-sized
    * re-aggregate (the continuation counts). */
  def stupidBackoffScore(candidates: DataFrame, counts: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"need k >= 1, got $k")
    val cb = Checkpoints.pin(counts) // feeds 3 derived frames + the join
    val cl = cb.groupBy(col("w1")).agg(sum(col("cnt")).as("cl"))
    val cr = cb.groupBy(col("w2")).agg(sum(col("cnt")).as("cr"))
    val nb = cb.agg(sum(col("cnt")).as("nb"))
    val seen = col("cnt").cast("double") * lit(1073741824.0) / col("cl")
    val backoff = lit(0.4) *
      (coalesce(col("cr"), lit(0L)).cast("double") * lit(1073741824.0)
        / col("nb"))
    bigrams(candidates, idCol, textCol)
      .join(cb, Seq("w1", "w2"), "left")
      .join(cl, Seq("w1"), "left")
      .join(cr, Seq("w2"), "left")
      .crossJoin(broadcast(nb))
      .withColumn("__contrib",
        floor(when(col("cnt").isNotNull, seen).otherwise(backoff))
          .cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("sb_fp"),
        count(lit(1)).as("n_bigrams"))
      .withColumn("sb_avg", col("sb_fp").cast("double") / col("n_bigrams"))
      .select(col(idCol), col("n_bigrams"), col("sb_fp"), col("sb_avg"))
      .orderBy(col("sb_avg"), col(idCol))
      .limit(k)
      .transform(Checkpoints.pin)
  }

  /** TRIGRAM stupid backoff — the recursive chain of Brants et al.
    * completed one order up, still pure count arithmetic
    * (trigram MLE → 0.4·bigram MLE → 0.4²·unigram frequency):
    *  - seen trigram: `c(w1,w2,w3) / c(w1,w2)` (the raw BIGRAM count
    *    as the denominator — a trigram's prefix bigram necessarily
    *    occurred, so the MLE is always defined);
    *  - unseen trigram, seen bigram (w2,w3):
    *    `0.4 · c(w2,w3) / c(w2·)`;
    *  - both unseen: `0.4 · 0.4 · c(·w3) / N` (0 when w3 was never a
    *    continuation).
    * Takes BOTH count frames — `triCounts` ([[trigramCounts]]) and
    * `biCounts` ([[bigramCounts]]) from the SAME training corpus;
    * each is one corpus pass, both mergeable artifacts. Same
    * fixed-point discipline (per-trigram floor(2³⁰·S) longs; 0.4 and
    * the nested parenthesization are engine-identical doubles);
    * candidates need ≥ 3 tokens to contribute. Scale shape: the
    * bigram frame feeds one join and three vocab-sized re-aggregates
    * (pinned once, released on return); the trigram frame feeds only
    * its own join — candidate-trigram-sized exchanges, nothing
    * all-pairs. Returns `(id, n_trigrams, sb3_fp, sb3_avg)` ascending
    * (id tiebreak), k rows. */
  def trigramBackoffScore(candidates: DataFrame, triCounts: DataFrame,
      biCounts: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"need k >= 1, got $k")
    val bb = Checkpoints.pin(biCounts) // feeds 2 joins + 3 re-aggs
    val tc = triCounts.select(col("w1"), col("w2"), col("w3"),
      col("cnt").as("c123"))
    val b12 = bb.select(col("w1"), col("w2"), col("cnt").as("c12"))
    val b23 = bb.select(col("w1").as("w2"), col("w2").as("w3"),
      col("cnt").as("c23"))
    val cl2 = bb.groupBy(col("w1").as("w2")).agg(sum(col("cnt")).as("cl2"))
    val cr3 = bb.groupBy(col("w2").as("w3")).agg(sum(col("cnt")).as("cr3"))
    val nb = bb.agg(sum(col("cnt")).as("nb"))
    val seenTri = col("c123").cast("double") * lit(1073741824.0) / col("c12")
    val seenBi = lit(0.4) *
      (col("c23").cast("double") * lit(1073741824.0) / col("cl2"))
    val uni = lit(0.4) * (lit(0.4) *
      (coalesce(col("cr3"), lit(0L)).cast("double") * lit(1073741824.0)
        / col("nb")))
    trigrams(candidates, idCol, textCol)
      .join(tc, Seq("w1", "w2", "w3"), "left")
      .join(b12, Seq("w1", "w2"), "left")
      .join(b23, Seq("w2", "w3"), "left")
      .join(cl2, Seq("w2"), "left")
      .join(cr3, Seq("w3"), "left")
      .crossJoin(broadcast(nb))
      .withColumn("__contrib", floor(
        when(col("c123").isNotNull, seenTri)
          .when(col("c23").isNotNull, seenBi)
          .otherwise(uni)).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("sb3_fp"),
        count(lit(1)).as("n_trigrams"))
      .withColumn("sb3_avg", col("sb3_fp").cast("double") / col("n_trigrams"))
      .select(col(idCol), col("n_trigrams"), col("sb3_fp"), col("sb3_avg"))
      .orderBy(col("sb3_avg"), col(idCol))
      .limit(k)
      .transform(Checkpoints.pin)
  }

  // ------------------------------------- trained language identification

  /** All character trigrams of each doc (spaces included — they carry
    * real signal: '␣de', 'el␣' separate es/de/fr), one row per
    * OCCURRENCE; docs under 3 chars contribute nothing. Character
    * semantics are code points in both engines (Spark UTF8String
    * numChars / DuckDB substr), so the oracle sees identical grams. */
  private def charTrigrams(df: DataFrame, cols: Seq[String],
      textCol: String): DataFrame =
    // guide §2.5 floor (r19); keyed on the text — `cols` may be a
    // low-cardinality class label
    Parallelism.spread(df, textCol).filter(length(col(textCol)) >= 3)
      .select(cols.map(col) :+ explode(transform(
        sequence(lit(1), length(col(textCol)) - 2),
        i => col(textCol).substr(i, lit(3)))).as("tri"): _*)

  /** Train the language identifier: per-class character-trigram
    * counts `(lang, tri, cnt)` from a LABELED corpus — mergeable by
    * SUM like [[bigramCounts]], so the same [[BatchStore]] delta
    * maintenance applies ([[writeLangIdStore]]). */
  def langTrigramCounts(train: DataFrame, langCol: String,
      textCol: String): DataFrame =
    charTrigrams(train, Seq(langCol), textCol)
      .groupBy(col(langCol).as("lang"), col("tri"))
      .agg(count(lit(1)).as("cnt"))

  /** Classify docs by TRAINED class-conditional trigram LM — the
    * statistical upgrade of [[TextAnalysis.langId]]'s stopword
    * heuristic (which needs a hand list per language and returns
    * 'und' on text with no stopwords; this learns its evidence from
    * labeled data and scores every ≥3-char doc). A doc's class score
    * is Σ over its trigram occurrences of the Laplace fixed-point
    * `floor((c(tri,lang)+1)·2³⁰/(c(·lang)+V))` — all longs, so the
    * ARGMAX IS EXACT integer comparison (no float ranking at all;
    * ties break on lang ascending). V = distinct trigram types in
    * training, shared across classes.
    *
    * The unseen-trigram term is a PER-CLASS CONSTANT
    * `floor(1·2³⁰/(cl+V))`, so scoring never explodes candidates ×
    * classes: one join of candidate trigrams against the seen counts
    * (the only corpus-scale exchange, keyed on tri), a per-(doc,
    * class) partial aggregate, then the missing-mass term
    * `(n_tri − n_seen) · floor0(lang)` added from a classes-sized
    * broadcast. Returns `(id, lang_pred, score_fp)` — the call's only
    * live checkpoint (candidate-sized); the counts pin is released
    * before return. */
  def classifyLangByTrigrams(cand: DataFrame, counts: DataFrame,
      idCol: String, textCol: String): DataFrame = Checkpoints.scoped {
    val cb = Checkpoints.pin(counts) // feeds cl, V, and the seen join
    val cl = cb.groupBy(col("lang")).agg(sum(col("cnt")).as("cl"))
    val v = cb.agg(countDistinct(col("tri")).as("v"))
    val classes = cl.crossJoin(broadcast(v))
      .withColumn("floor0", floor(
        lit(1L).cast("double") * lit(1073741824.0)
          / (col("cl") + col("v"))).cast("long"))
      .select(col("lang"), col("cl"), col("v"), col("floor0"))
    val tri = charTrigrams(cand, Seq(idCol), textCol)
    val nTri = tri.groupBy(col(idCol)).agg(count(lit(1)).as("n_tri"))
    val seen = tri.join(cb, Seq("tri"))
      .join(broadcast(classes.select(col("lang"), col("cl"), col("v"))),
        Seq("lang"))
      .withColumn("__contrib", floor(
        (col("cnt") + lit(1L)).cast("double") * lit(1073741824.0)
          / (col("cl") + col("v"))).cast("long"))
      .groupBy(col(idCol), col("lang"))
      .agg(sum(col("__contrib")).as("seen_fp"),
        count(lit(1)).as("n_seen"))
    val byDoc = Window.partitionBy(col(idCol))
      .orderBy(desc("score_fp"), col("lang"))
    nTri
      .crossJoin(broadcast(classes.select(col("lang"), col("floor0"))))
      .join(seen, Seq(idCol, "lang"), "left")
      .withColumn("score_fp",
        coalesce(col("seen_fp"), lit(0L)) +
          (col("n_tri") - coalesce(col("n_seen"), lit(0L))) * col("floor0"))
      .withColumn("__rn", row_number().over(byDoc))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("lang").as("lang_pred"), col("score_fp"))
      .transform(Checkpoints.pin)
  }

  // ----------------------------------------------- persisted LM store

  /** Append one training slice's bigram counts to the persisted model
    * at `root` — LM maintenance as [[BatchStore]] deltas: counts are
    * mergeable by SUM, so a daily slice appends its own counts and the
    * served model is the sum-on-read union ([[bigramLmScoreFromStore]])
    * — training never re-reads history, and [[compactLmStore]] folds
    * a year of deltas back into one dir without changing a single
    * score (sum is associative). */
  def writeLmStore(train: DataFrame, idCol: String, textCol: String,
      root: String, batchId: Long): Unit =
    BatchStore.append(bigramCounts(train, idCol, textCol), root, batchId)

  /** Maintain the LM store FROM A STREAM — model maintenance as a
    * `foreachBatch` streaming job, the production shape where the
    * daily training slices of [[writeLmStore]] arrive continuously
    * instead ([[InvertedIndex.postingStoreSink]]'s discipline on the
    * count store). The sink is EXACTLY-ONCE under Structured
    * Streaming's at-least-once epoch replay ([[BatchStore.epochSink]]):
    * the LM store is a SINGLE [[BatchStore]] dir (no stats
    * sidecar — left counts and V derive from the counts themselves,
    * see [[bigramCounts]]), so there is no partial-commit crash
    * window to heal: the stage-and-rename commit means `batch=$id`
    * either exists completely (replay no-ops) or not at all (normal
    * write). Requires the replayed epoch to carry the same rows,
    * which the checkpointed file/kafka sources guarantee. Serving
    * ([[bigramLmScoreFromStore]]) is independent of how the source
    * chunked the corpus into epochs — counts merge by SUM (q194 pins
    * the streamed store against single-shot training). */
  def lmStoreSink(idCol: String, textCol: String,
      root: String): (DataFrame, Long) => Unit =
    BatchStore.epochSink(root)(writeLmStore(_, idCol, textCol, root, _))

  /** ERASE documents from the persisted LM — the takedown path that
    * completes the tombstone discipline for the one served store
    * whose rows are AGGREGATES, not documents: there is no per-doc
    * row to mask, but counts merge by SUM, so erasure is an append of
    * the erased docs' bigram counts NEGATED (the posting store's
    * negative-stats-row discipline, [[InvertedIndex
    * .deleteFromPostingStore]]). Served scoring nets the negatives
    * out on the very next query — no retraining, no store rewrite —
    * and [[compactLmStore]] folds them away physically at the next
    * maintenance window. Takes the removed DOCUMENT frame (id +
    * text), so the delta is computed by the exact arithmetic
    * [[writeLmStore]] used.
    *
    * Contract (append-delta discipline): erase each doc AT MOST ONCE,
    * only docs previously appended, with a fresh `batchId` — a net
    * count below zero has no corpus meaning, and the serve-side
    * zero-row filter only guarantees retrain-identity when deltas
    * follow this contract. */
  def deleteFromLmStore(deleted: DataFrame, idCol: String, textCol: String,
      root: String, batchId: Long): Unit =
    BatchStore.append(
      bigramCounts(deleted, idCol, textCol)
        .select(col("w1"), col("w2"), (-col("cnt")).as("cnt")),
      root, batchId)

  /** Merge a count store's committed batches into the served count
    * frame: one keyed SUM, then DROP NET-ZERO ROWS — after an erasure
    * the negated delta nets a fully-erased key to 0, and a zero row
    * must behave as UNSEEN (kept, it would still count its key toward
    * V / the continuation vocabulary and join as "seen" with a zero
    * numerator), so the filter is exactly what makes served scoring
    * value-identical to retraining on the remaining corpus
    * (oracle-gated, q189/q191). */
  private[graft] def mergedStoreCounts(spark: SparkSession, root: String,
      keys: Seq[String]): DataFrame =
    BatchStore.read(spark, root)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0)

  /** Compaction fold shared by both count stores: re-aggregate by
    * `keys`, FAIL LOUDLY on any NEGATIVE net count, then drop
    * net-zero keys. A net count below zero has no corpus meaning —
    * it means a double-delete or a delete-without-append (the
    * at-most-once contract of [[deleteFromLmStore]] violated) — and
    * the serve-side zero-row filter silently keeps such keys out of
    * V while their negative mass still sums into sibling aggregates,
    * so compaction is the maintenance checkpoint where the violation
    * must surface instead of persisting physically (the posting
    * store's negative-stats discipline, [[InvertedIndex]]). The check
    * is fused into the fold plan (assert_true naming the offending
    * key), never a collect. */
  private[operators] def foldNonNegativeCounts(m: DataFrame, keys: Seq[String]): DataFrame =
    m.groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
      .filter(assert_true(col("cnt") >= 0,
        concat(lit("negative net count in store compaction "
            + "(double-delete or delete-without-append): key="),
          concat_ws("/", keys.map(col): _*),
          lit(" cnt="), col("cnt"))).isNull)
      .filter(col("cnt") =!= 0)

  /** Fold the LM store's delta batches — positive appends AND negated
    * erasure batches — into one physically-clean dir: re-aggregate by
    * key, fail loudly on negative net counts (erasure-contract
    * violations, [[foldNonNegativeCounts]]), drop net-zero rows,
    * commit as a single batch ([[BatchStore.compactWith]]'s protocol:
    * racing appends abort the compaction, staging invisible). Serving
    * before and after is value-identical (q189 pins it in-plan);
    * after the fold the erased docs' counts are physically gone, not
    * just netted. */
  def compactLmStore(spark: SparkSession, root: String,
      newBatchId: Long): Int =
    BatchStore.compactWith(spark, root, newBatchId,
      m => foldNonNegativeCounts(m, Seq("w1", "w2")))

  /** [[bigramLmScore]] with counts summed from the store's committed
    * batches — value-identical to single-shot training on the
    * concatenated minus erased slices (spec-pinned): the per-batch
    * deltas re-merge in one vocab-keyed aggregate (net-zero rows
    * dropped, [[mergedStoreCounts]]) before the identical scoring. */
  def bigramLmScoreFromStore(spark: SparkSession, root: String,
      candidates: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    bigramLmScore(candidates, mergedStoreCounts(spark, root, Seq("w1", "w2")),
      idCol, textCol, k)

  /** [[stupidBackoffScore]] served from the persisted LM store — the
    * same one-re-aggregate read path as [[bigramLmScoreFromStore]]
    * (both scorers derive everything from the bigram counts, so ONE
    * store serves both smoothing modes), value-identical to in-memory
    * scoring on the merged counts (oracle-gated, q190). */
  def stupidBackoffScoreFromStore(spark: SparkSession, root: String,
      candidates: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    stupidBackoffScore(candidates,
      mergedStoreCounts(spark, root, Seq("w1", "w2")), idCol, textCol, k)

  // ------------------------------------------ persisted lang-id store

  /** Append one labeled slice's per-class trigram counts to the
    * persisted language-id model at `root` — same mergeable-counts
    * delta maintenance as [[writeLmStore]], keyed (lang, tri). */
  def writeLangIdStore(train: DataFrame, langCol: String, textCol: String,
      root: String, batchId: Long): Unit =
    BatchStore.append(langTrigramCounts(train, langCol, textCol), root, batchId)

  /** Erase labeled documents from the persisted lang-id model — the
    * [[deleteFromLmStore]] discipline on (lang, tri)-keyed counts:
    * append the erased docs' per-class trigram counts negated; the
    * served merge nets them out, [[compactLangIdStore]] folds them
    * away. Same at-most-once / previously-appended contract. */
  def deleteFromLangIdStore(deleted: DataFrame, langCol: String,
      textCol: String, root: String, batchId: Long): Unit =
    BatchStore.append(
      langTrigramCounts(deleted, langCol, textCol)
        .select(col("lang"), col("tri"), (-col("cnt")).as("cnt")),
      root, batchId)

  /** [[compactLmStore]] for the lang-id store: fold delta batches by
    * (lang, tri), fail loudly on negative net counts
    * ([[foldNonNegativeCounts]]), drop net-zero rows, one committed
    * dir. */
  def compactLangIdStore(spark: SparkSession, root: String,
      newBatchId: Long): Int =
    BatchStore.compactWith(spark, root, newBatchId,
      m => foldNonNegativeCounts(m, Seq("lang", "tri")))

  /** [[classifyLangByTrigrams]] served from the persisted lang-id
    * store — one (lang, tri)-keyed re-aggregate (net-zero rows
    * dropped) then the identical exact-integer argmax; value-identical
    * to training on the appended-minus-erased corpus (oracle-gated,
    * q191). */
  def classifyLangByTrigramsFromStore(spark: SparkSession, root: String,
      cand: DataFrame, idCol: String, textCol: String): DataFrame =
    classifyLangByTrigrams(cand,
      mergedStoreCounts(spark, root, Seq("lang", "tri")), idCol, textCol)
}
