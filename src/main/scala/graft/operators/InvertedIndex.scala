package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextFunctions.tokens

/** Inverted-index construction and term search over the corpus — the
  * retrieval foundation (BM25/df-idf style) a training-data stack
  * needs for decontamination audits, targeted curation ("every doc
  * mentioning X"), and eval-set leakage hunts.
  *
  * Scale design (100 TB):
  *  - The tf frame (token, doc, tf) is one shuffle on (token, doc)
  *    with map-side partial counts.
  *  - Per-token stats (df, cf) are partial-aggregated; the final
  *    aggregate rides the SAME token-hash exchange the posting-head
  *    window creates — two corpus exchanges total, pinned in
  *    PlanSpec.
  *  - The SKEW hazard is the posting list itself: a stopword's
  *    postings are corpus-sized, so the full list is never
  *    materialized per token. The head is taken by a streaming
  *    window rank (`row_number <= k` per token, evaluated
  *    incrementally inside the sort — no per-token buffer), and only
  *    those ≤ k survivors reach the aggregate. Full posting EXPORT at
  *    scale shards by (token, bucket(doc)) so no single writer owns a
  *    hot token's whole list — [[exportPostings]], pinned in
  *    Round11Spec.
  *  - [[andSearch]] never touches the index: it is a fresh scan +
  *    filtered aggregate + `TakeOrderedAndProject` top-k, the right
  *    plan when the term set is small and ad hoc; a served index is
  *    the [[Bucketing]] layout of the tf frame instead.
  */
object InvertedIndex {

  /** One row per distinct token: `(token, df, cf, posting_head)` —
    * document frequency, collection frequency, and the first `headK`
    * doc ids in id order joined with '_' (a STRING so cross-engine
    * compares need no list hashing). */
  def build(df: DataFrame, idCol: String, textCol: String,
      headK: Int): DataFrame = {
    require(headK >= 1, s"need headK >= 1, got $headK")
    val tf = df
      .select(col(idCol).cast("long").as("__doc"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("__doc"))
      .agg(count(lit(1)).as("tf"))
    val byToken = Window.partitionBy(col("token")).orderBy(col("__doc"))
    tf.withColumn("__rn", row_number().over(byToken))
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).cast("long").as("cf"),
        concat_ws("_", transform(
          sort_array(collect_list(when(col("__rn") <= headK, col("__doc")))),
          d => d.cast("string"))).as("posting_head"))
  }

  /** Documents containing the exact token PHRASE, ranked by
    * occurrence count (exact integer, id tiebreak, top `k`) — the
    * decontamination-audit question "which documents contain this
    * benchmark sentence" that token-level AND search ([[andSearch]])
    * cannot answer. The phrase is reduced to ONE 32-bit rolling gram
    * hash at PLAN TIME (driver-side, the same
    * `(acc·65599 + th) mod P` chain as
    * [[TextFunctions.gramHashes]]), and each document contributes a
    * map-side count of matching positional gram hashes — a codegen'd
    * scan + filter + `TakeOrderedAndProject`, no shuffle before the
    * top-k's partial ranks. Matching is at HASH level (the q121 /
    * decontamination discipline): a cross-phrase collision is
    * possible at ~2⁻³² per gram and both engines hash identically,
    * so results stay bit-reproducible. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.length >= 2, s"need a phrase of >= 2 tokens, got $phrase")
    require(k >= 1, s"need k >= 1, got $k")
    val target = TextFunctions.phraseHash(phrase)
    df.select(col(idCol),
        size(filter(TextFunctions.gramHashes(tokens(col(textCol)), phrase.length),
          h => h === target)).as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .select(col(idCol), col("n_occurrences").cast("long").as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col(idCol))
      .limit(k)
  }

  /** Documents containing ALL `terms`, ranked by length-normalized
    * tf·idf — the retrieval-quality step [[andSearch]]'s raw-tf score
    * lacks: raw tf is dominated by LONG documents (more tokens, more
    * matches) and weighs a stopword-frequency term equal to a rare
    * one. Here each term's contribution is the exact rational
    * `tf · n_docs / df` (linear idf, NO logarithm — a transcendental
    * costs cross-engine bit-equality and changes only the scale, not
    * the ranking, of a fixed term set: the q69 keyword discipline),
    * and the sum is divided by the document's token count, so a
    * 10 000-token page mentioning the terms in passing no longer
    * outranks a 50-token match.
    *
    * Bit-reproducibility of the FLOAT score: per-term contributions
    * are doubles computed as ((tf·n_docs)/df) — one rounding each —
    * and summed LEFT-TO-RIGHT IN THE terms ORDER AT PLAN TIME (a
    * fixed + chain, never a data-ordered aggregate), then one divide
    * by doc_len; any engine mirroring the parenthesization matches
    * exactly (oracle-gated in q151).
    *
    * Scale shape = [[andSearch]]: one corpus scan (explode + isin
    * filter + partial-aggregated pivot per doc); df and n_docs are
    * broadcast scalars; the top-k is `TakeOrderedAndProject`
    * (PlanSpec-pinned) — no global sort, no index required. Returns
    * `(id, doc_len, score)`, score descending, id tiebreak. */
  def rankedSearch(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct, got $terms")
    require(k >= 1, s"need k >= 1, got $k")
    val tf = df
      .select(col(idCol), size(tokens(col(textCol))).as("doc_len"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col(idCol), col("doc_len"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "token").crossJoin(broadcast(nDocs))
      .withColumn("__contrib",
        col("tf").cast("double") * col("n_docs") / col("df"))
    // pivot to the FIXED terms order: each per-term cell aggregates at
    // most one row, so max() is a pass-through, and the + chain below
    // is the plan-time left-to-right sum
    val cells = count(lit(1)).as("__n_terms") +:
      terms.zipWithIndex.map { case (t, i) =>
        max(when(col("token") === t, col("__contrib"))).as(s"__c$i")
      }
    scored.groupBy(col(idCol), col("doc_len"))
      .agg(cells.head, cells.tail: _*)
      .filter(col("__n_terms") === terms.size)
      .withColumn("score",
        terms.indices.map(i => col(s"__c$i")).reduce(_ + _) / col("doc_len"))
      .select(col(idCol), col("doc_len").cast("long").as("doc_len"), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** BM25-shaped ranked retrieval: [[rankedSearch]]'s AND semantics
    * and plan shape, scored with the two refinements BM25 adds over
    * tf·idf — TERM-FREQUENCY SATURATION (a term's 50th occurrence
    * adds almost nothing: tf·(k1+1)/(tf + k1·norm) asymptotes at
    * k1+1) and PIVOTED LENGTH NORMALIZATION (norm = 1−b + b·dl/avgdl
    * penalizes only documents longer than the corpus average, unlike
    * rankedSearch's flat 1/dl which overrewards snippets). This is
    * the LOG-FREE variant: idf is the exact rational
    * (N − df + 0.5)/(df + 0.5) — BM25's idf argument without the
    * ln() — because a transcendental can differ in the last ulp
    * across engines and break the oracle hash; per-term idf order is
    * identical (x ↦ ln(1+x) is monotone), only the relative
    * weighting between terms shifts. k1 = 1.25 and b = 0.75 are
    * BINARY-EXACT doubles (5/4, 3/4), so every constant parses to
    * the same bits in any engine.
    *
    * Bit-reproducibility: contributions are a fixed parenthesization
    * of +,·,/ over exact integers (tf, df, N, dl, Σdl) and exact
    * constants, summed left-to-right in the terms order at plan time
    * (the [[rankedSearch]] pivot); an engine mirroring the
    * parenthesization matches bitwise (oracle-gated in q153).
    *
    * Scale shape = [[rankedSearch]] plus ONE extra 1-row broadcast
    * aggregate for (N, Σdl): the corpus-average doc length. Returns
    * `(id, doc_len, score)`, score descending, id tiebreak. */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct, got $terms")
    require(k >= 1, s"need k >= 1, got $k")
    val tf = df
      .select(col(idCol), size(tokens(col(textCol))).as("doc_len"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col(idCol), col("doc_len"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val stats = df.select(count(lit(1)).as("n_docs"),
      sum(size(tokens(col(textCol)))).as("total_len"))
    bm25Rank(tf, stats, idCol, terms, k)
  }

  /** The BM25 scoring stage shared by [[bm25Search]] (tf/stats from a
    * corpus scan) and [[bm25SearchFromStore]] (tf/stats from persisted
    * postings): df from the term-filtered tf frame, the saturated
    * pivoted contribution, the fixed-order pivot sum, top-k. */
  private def bm25Rank(tf0: DataFrame, stats: DataFrame, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    // BARRIER: the term-filtered tf frame feeds df AND the scoring
    // join — without it each consumer re-runs the upstream corpus
    // scan (scan path) or term-pruned store pass (served path); with
    // it the corpus is read once and both consumers read the small
    // materialized tf rows (the q141 multi-consumer discipline;
    // Round11Spec pins the served read at one store pass). The
    // pinned blocks are bounded by the query terms' posting volume.
    // Lifecycle: [[Checkpoints]].
    val tf = Checkpoints.pin(tf0)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val dlRatio = col("doc_len").cast("double") /
      (col("total_len").cast("double") / col("n_docs"))
    val tfSat = (col("tf").cast("double") * lit(2.25)) /
      (col("tf") + lit(1.25) * (lit(0.25) + lit(0.75) * dlRatio))
    val scored = tf.join(broadcast(dfreq), "token").crossJoin(broadcast(stats))
      .withColumn("__contrib", idf * tfSat)
    val cells = count(lit(1)).as("__n_terms") +:
      terms.zipWithIndex.map { case (t, i) =>
        max(when(col("token") === t, col("__contrib"))).as(s"__c$i")
      }
    scored.groupBy(col(idCol), col("doc_len"))
      .agg(cells.head, cells.tail: _*)
      .filter(col("__n_terms") === terms.size)
      .withColumn("score", terms.indices.map(i => col(s"__c$i")).reduce(_ + _))
      .select(col(idCol), col("doc_len").cast("long").as("doc_len"), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** [[bm25Search]] OVER THE STORE ([[writePostingStore]]): identical
    * scoring arithmetic from persisted postings — tf rows are the
    * store's term-filtered rows (pushed-filter scan, like
    * [[andSearchFromStore]]), and the corpus stats (N, Σdl) come from
    * the store's STATS SIDECAR ([[postingStoreStats]]): one persisted
    * row per committed batch, summed at query time. A served query
    * therefore reads term-pruned posting row groups plus a
    * batches-count-sized stats frame — never the whole store (the
    * pre-sidecar shape `distinct(id, doc_len)` paid a full corpus
    * scan per query, which defeats maintaining an index at all;
    * pinned gone in MetricsSpec). Because each batch's stats row is
    * computed from the batch's RAW document frame (zero-token docs
    * included), the store path is value-identical to [[bm25Search]]'s
    * scan path on ANY corpus — no tokenization-coverage caveat. */
  def bm25SearchFromStore(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct, got $terms")
    require(k >= 1, s"need k >= 1, got $k")
    val tf = applyTombstones(spark, root,
        BatchStore.read(spark, root).filter(col("token").isin(terms: _*)), idCol)
      .select(col(idCol), col("doc_len"), col("token"), col("tf"))
    bm25Rank(tf, postingStoreStats(spark, root), idCol, terms, k)
  }

  /** Corpus stats of the posting store at `root` as ONE row
    * `(n_docs, total_len)`: the sum of the per-batch sidecar rows
    * [[writePostingStore]] commits under `root/.stats` (a dot-dir —
    * invisible to the postings reader's parquet listing, so the
    * store's row schema is unchanged). The frame scanned here is
    * batches-count-sized, never corpus-sized. */
  def postingStoreStats(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame =
    BatchStore.read(spark, statsRoot(root))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_len")).as("total_len"))

  private def statsRoot(root: String): String =
    new org.apache.hadoop.fs.Path(root, ".stats").toString

  // --------------------------- pseudo-relevance feedback (RM3-style)

  /** OR-semantics BM25 in FIXED POINT: every document containing ≥ 1
    * query term scores `Σ floor(2²⁰ · idf·tfSat)` over its MATCHING
    * terms — the disjunctive ranking pseudo-relevance feedback needs
    * (an expanded query must not demand every expansion term the way
    * [[bm25Search]]'s AND pivot does). Fixed point is what makes the
    * data-dependent term set hash-exact: the AND path's plan-time
    * left-to-right double sum needs literal terms, while long
    * contributions sum order-free, so any term set — including one
    * selected at runtime from feedback documents — reproduces
    * bit-identically in any engine. 2²⁰ (not the usual 2³⁰) leaves
    * headroom for idf's rare-term extreme — but the bound is JOINT
    * over the matching term set, not per term: prf_fp sums one
    * contribution per matching term, each ≤ 2.25·(2N)·2²⁰ ≈ 4.7·10¹⁸
    * at N = 10¹², so the sum stays < 2⁶³ only while
    * n_terms · N ≲ 2·10¹² (e.g. ≤ 2 000 expanded terms at N = 10⁹,
    * or ≤ 2 terms at the N = 10¹² extreme). PRF queries carry
    * terms + fbTerms ≈ tens of terms, which holds comfortably to
    * N ≈ 10¹¹; the runtime require below fails loudly (rather than
    * letting the non-ANSI sum wrap) if a caller exceeds it.
    * Returns `(id, doc_len, n_terms_hit, prf_fp)`, prf_fp descending,
    * id tiebreak; the scope releases the tf pin (the result is
    * materialized). */
  private def bm25AnyFpRank(tf0: DataFrame, stats: DataFrame, idCol: String,
      k: Int): DataFrame = Checkpoints.scoped {
    val tf = Checkpoints.pin(tf0) // feeds df AND the scoring join
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val dlRatio = col("doc_len").cast("double") /
      (col("total_len").cast("double") / col("n_docs"))
    val tfSat = (col("tf").cast("double") * lit(2.25)) /
      (col("tf") + lit(1.25) * (lit(0.25) + lit(0.75) * dlRatio))
    tf.join(broadcast(dfreq), "token").crossJoin(broadcast(stats))
      .withColumn("__fp", floor(idf * tfSat * lit(1048576.0)).cast("long"))
      .groupBy(col(idCol), col("doc_len"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("__fp")).as("prf_fp"),
        max(col("__fp")).as("__fpmax"))
      // joint overflow guard: sum ≤ n_terms_hit·max(__fp); checked in
      // double (which cannot wrap) so a corpus/term-set combination
      // past the 2⁶³ headroom fails loudly instead of ranking on a
      // silently wrapped fixed-point sum.
      .withColumn("prf_fp", when(
        col("n_terms_hit").cast("double") * col("__fpmax").cast("double") >
          lit(9.0e18),
        raise_error(lit("bm25AnyFpRank fixed-point headroom exceeded: " +
          "n_terms_hit × max term contribution approaches 2^63; shrink " +
          "the expanded term set or the corpus per store"))
          .cast("long")).otherwise(col("prf_fp")))
      .select(col(idCol), col("doc_len").cast("long").as("doc_len"),
        col("n_terms_hit"), col("prf_fp"))
      .orderBy(desc("prf_fp"), col(idCol))
      .limit(k)
      .transform(Checkpoints.pin)
  }

  /** The top expansion terms of a feedback-document set: occurrence
    * counts over the feedback docs' tokens, the original query terms
    * excluded, top `fbTerms` by (count desc, token asc). The frame is
    * feedback-set-sized; callers collect it (fbTerms is a query-shape
    * constant, the probed-IVF-list-ids precedent). */
  def prfExpansionTerms(corpus: DataFrame, idCol: String, textCol: String,
      fbIds: Seq[Any], terms: Seq[String], fbTerms: Int): DataFrame = {
    require(fbTerms >= 1, s"need fbTerms >= 1, got $fbTerms")
    corpus.filter(col(idCol).isin(fbIds: _*))
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(!col("token").isin(terms: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token"))
      .limit(fbTerms)
  }

  /** RM3-style pseudo-relevance feedback over the persisted posting
    * store — the query-expansion stage of a production retrieval
    * stack (Lavrenko & Croft's relevance models, the simplified
    * count-weighted variant): (1) the ORIGINAL query runs the strict
    * AND BM25 ([[bm25SearchFromStore]]) and its top `fbDocs` results
    * become the feedback set; (2) the feedback documents' most
    * frequent non-query terms (top `fbTerms`) join the query;
    * (3) the EXPANDED query re-ranks with OR-semantics fixed-point
    * BM25 ([[bm25AnyFpRank]]) — documents sharing only the feedback
    * vocabulary (synonyms, co-occurring entities) now surface even
    * though they match no original term.
    *
    * Driver-side state is two parameter-bounded collects (fbDocs ids,
    * fbTerms strings) — never corpus-sized. Store reads are the
    * pushed-filter term scans both passes; tombstones masked as in
    * every served search. `corpus` supplies the feedback docs' text
    * (the forward-index role); pass-2 scoring uses only the store. */
  def prfSearchFromStore(spark: org.apache.spark.sql.SparkSession,
      root: String, corpus: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], fbDocs: Int, fbTerms: Int, k: Int): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1 && k >= 1,
      s"need fbDocs/fbTerms/k >= 1, got $fbDocs/$fbTerms/$k")
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct, got $terms")
    // pass 1 in its own scope: its tf pin is released once the
    // feedback ids are collected
    val fbIds = Checkpoints.scoped {
      bm25Rank(applyTombstones(spark, root,
          BatchStore.read(spark, root).filter(col("token").isin(terms: _*)),
          idCol)
        .select(col(idCol), col("doc_len"), col("token"), col("tf")),
        postingStoreStats(spark, root), idCol, terms, fbDocs)
        .select(col(idCol)).collect().map(_.get(0)).toSeq
    }
    val expansion = prfExpansionTerms(corpus, idCol, textCol,
      fbIds, terms, fbTerms).collect().map(_.getString(0)).toSeq
    val allTerms = terms ++ expansion
    val tf = applyTombstones(spark, root,
        BatchStore.read(spark, root).filter(col("token").isin(allTerms: _*)),
        idCol)
      .select(col(idCol), col("doc_len"), col("token"), col("tf"))
    bm25AnyFpRank(tf, postingStoreStats(spark, root), idCol, k)
  }

  /** Documents containing ALL `terms`, ranked by total term frequency
    * (exact integer score — no idf floats, so the ranking is
    * bit-reproducible in any engine), doc id as the tiebreak, top
    * `k`. Returns `(id, score)`. */
  def andSearch(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct, got $terms")
    require(k >= 1, s"need k >= 1, got $k")
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(countDistinct(col("token")).as("__n_terms"),
        count(lit(1)).as("score"))
      .filter(col("__n_terms") === terms.size)
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  // --------------------------------------- incremental posting store

  /** Append one batch's postings to the PERSISTED index at `root` —
    * the maintenance shape a served retrieval index needs: a daily
    * delta writes ONLY its own `(id, token, tf, doc_len)` rows
    * ([[BatchStore]] stage-and-rename commit), and search scans the
    * union of committed batches — the corpus text is tokenized once,
    * ever, instead of per query ([[andSearch]]'s re-scan shape) or
    * per day (a full re-index). Postings are one shuffle on
    * (id, token) with map-side partial counts. */
  def writePostingStore(df: DataFrame, idCol: String, textCol: String,
      root: String, batchId: Long): Unit = {
    // adaptive parallelism floor (guide §2.5, r19): the tokenize +
    // explode map work inherits the scan's task count — one task on
    // the single-row-group gate corpora; no-op on parallel inputs.
    // Both the postings chain and the stats pass read the spread rows.
    val spreadDf = Parallelism.spread(df, idCol)
    val postings = spreadDf
      .select(col(idCol), size(tokens(col(textCol))).as("doc_len"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("doc_len"), col("token"))
      .agg(count(lit(1)).as("tf"))
    BatchStore.append(postings, root, batchId)
    // Stats sidecar: ONE (n_docs, total_len) row per batch, computed
    // from the RAW batch frame (explode drops zero-token docs from
    // postings; the sidecar must not), committed under root/.stats so
    // BM25 stats at query time are a sum of batches-count rows, not a
    // corpus scan. The second pass over df tokenizes the DELTA again —
    // write-time cost on the day's increment, bought back on every
    // served query. Committed AFTER the postings batch: a crash
    // between the two leaves postings without stats, which
    // postingStoreStats under-counts — compact or re-append to heal;
    // the reverse order would over-count silently.
    BatchStore.append(batchStats(df, textCol), statsRoot(root), batchId)
  }

  /** One (n_docs, total_len) row for a batch frame — the sidecar
    * payload, shared by [[writePostingStore]] and the streaming
    * sink's heal path. */
  private def batchStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(tokens(col(textCol))).cast("long")), lit(0L))
        .as("total_len"))

  /** Maintain the posting store FROM A STREAM — index maintenance as
    * a `foreachBatch` streaming job, the production shape where the
    * daily-delta batches of [[writePostingStore]] arrive continuously
    * instead. Batch id = `1 + epochId`, and the sink is
    * EXACTLY-ONCE under Structured Streaming's at-least-once epoch
    * replay:
    *  - epoch fully committed → the replay is a NO-OP (both dirs
    *    exist);
    *  - crash in [[writePostingStore]]'s window (postings committed,
    *    stats not) → the replay HEALS it by appending only the
    *    missing stats row, recomputed from the replayed batch — the
    *    stage-and-rename commit guarantees a half-written dir was
    *    never visible, so postings are either absent or complete;
    *  - epoch never started → the normal write.
    * Requires the replayed epoch to carry the same rows, which the
    * checkpointed file/kafka sources guarantee. */
  def postingStoreSink(idCol: String, textCol: String,
      root: String): (DataFrame, Long) => Unit =
    (batch, epochId) => {
      val spark = batch.sparkSession
      val id = 1L + epochId
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val postingsDone = fs.exists(
        new org.apache.hadoop.fs.Path(root, s"batch=$id"))
      val statsDone = fs.exists(new org.apache.hadoop.fs.Path(
        statsRoot(root), s"batch=$id"))
      if (!postingsDone) writePostingStore(batch, idCol, textCol, root, id)
      else if (!statsDone)
        BatchStore.append(batchStats(batch, textCol), statsRoot(root), id)
    }

  /** Compact the posting store AND its stats sidecar at `root` into
    * one batch each ([[BatchStore.compact]] twice — same protocol,
    * same single-maintainer assumption). Search results and
    * [[postingStoreStats]] totals are identical before and after:
    * compaction merges rows, it never re-aggregates them. Returns the
    * number of posting batch dirs replaced. */
  def compactPostingStore(spark: org.apache.spark.sql.SparkSession,
      root: String, newBatchId: Long): Int = {
    val n = BatchStore.compact(spark, root, newBatchId)
    BatchStore.compact(spark, statsRoot(root), newBatchId)
    n
  }

  // --------------------------------------------------- document deletes

  /** DELETE documents from the posting store — the maintenance shape a
    * takedown / GDPR-erasure request forces on a served index: the
    * removal must be VISIBLE IMMEDIATELY (a search one second later may
    * not return the doc) but rewriting a 100 TB store synchronously is
    * not an option. The standard resolution is a TOMBSTONE: the delete
    * commits only the removed ids (a delete-volume-sized batch under
    * `root/.tombstones`, same stage-and-rename protocol) plus a
    * NEGATIVE stats-sidecar row, and every search anti-joins its
    * term-filtered rows against the tombstones — the masking cost is
    * proportional to accumulated deletes, never to the store, and is
    * reclaimed by [[purgeTombstones]] at the next maintenance window.
    *
    * Takes the removed DOCUMENT frame (id + text — the shape an
    * erasure request arrives in: the caller holds the records), not
    * bare ids, so the stats adjustment is computed by the exact
    * arithmetic [[writePostingStore]] used — including ZERO-TOKEN docs,
    * which have no posting rows to recover a length from. After the
    * delete, [[postingStoreStats]] sums to exactly the remaining
    * corpus, so served BM25 is value-identical to a scan of the
    * remaining docs (oracle-gated in q180).
    *
    * Contract (append-delta discipline, like re-appending ids): delete
    * each doc AT MOST ONCE, only docs previously appended, and use a
    * fresh `batchId` — the stats sidecar is shared with appends, so a
    * reused id fails fast in the commit. The TOMBSTONE commits FIRST:
    * the erasure must be effective the moment the delete can have
    * happened, so the crash window leaves docs masked but stats still
    * counting them — scores drift conservatively until the heal
    * (re-append only the missing negative stats row, the
    * [[postingStoreSink]] discipline); the reverse order's window
    * would keep SERVING the deleted docs, which for a takedown is the
    * failure that matters. */
  def deleteFromPostingStore(df: DataFrame, idCol: String, textCol: String,
      root: String, batchId: Long): Unit = {
    Tombstones.append(df, idCol, root, batchId)
    BatchStore.append(
      batchStats(df, textCol)
        .select((-col("n_docs")).as("n_docs"),
          (-col("total_len")).as("total_len")),
      statsRoot(root), batchId)
  }

  /** Anti-join `rows` against the store's tombstones, if any — the
    * read-side half of [[deleteFromPostingStore]]
    * ([[Tombstones.apply]], the discipline shared with the ANN code
    * stores). Applied AFTER the term filter in the served search, so
    * the join's left side is the query's posting rows, not the store;
    * the tombstone side is delete-volume-sized (AQE picks the
    * strategy — usually a broadcast, but a mass-erasure day must not
    * be forced into one). */
  def applyTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String, rows: DataFrame, idCol: String): DataFrame =
    Tombstones.apply(spark, root, rows, idCol)

  /** Physically drop tombstoned docs' posting rows and retire the
    * applied tombstones — the maintenance window's rewrite
    * ([[BatchStore.compactWith]]: merge every batch, anti-join the
    * tombstones observed AT START, commit as one batch, delete the
    * originals). Only tombstone batches observed at start are deleted,
    * so a delete RACING the purge keeps its tombstone and stays masked
    * on read — no abort needed on that side (a racing APPEND still
    * aborts via the compact id re-list). Stats rows are untouched: the
    * negative delete rows must keep offsetting the appends' positive
    * rows ([[compactPostingStore]] folds them into one dir when run).
    * Served results are pinned identical before/after the purge
    * (in-plan in q180, and TombstoneSpec). Returns the number of
    * posting batch dirs replaced, 0 if there were no tombstones. */
  def purgeTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, newBatchId: Long): Int =
    purgeTombstones(spark, root, idCol, newBatchId, () => ())

  /** Test seam: `onBeforeCommit` runs after the purged merge is
    * staged, before the commit (TombstoneSpec plants a racing delete
    * there). */
  private[graft] def purgeTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, newBatchId: Long,
      onBeforeCommit: () => Unit): Int =
    Tombstones.purge(spark, root, idCol, newBatchId,
      onBeforeCommit = onBeforeCommit)

  /** FULL posting EXPORT, sharded by (token, bucket(doc)) — the
    * object-scaladoc promise made concrete. A full export is the one
    * posting-store operation where the Zipf head bites the WRITER: a
    * stopword's posting list is corpus-sized, and any layout that
    * routes a token's whole list to one task (e.g. `partitionBy` or a
    * `repartition(token)`) stalls the export on its hottest token and
    * produces one giant file per stopword. Sharding the exchange on
    * `(token, doc_bucket)` — doc_bucket = hash60(id) mod `docBuckets`,
    * reproducible across runs/engines — spreads each hot token over up
    * to `docBuckets` writer tasks while keeping each (token, bucket)
    * cell whole, so a reader can still merge a token's list from
    * `docBuckets` sorted-by-id fragments. No-single-owner is pinned in
    * Round11Spec (the hottest token's rows span > 1 task partition).
    * Committed via the [[BatchStore]] stage-and-rename protocol; the
    * `doc_bucket` column rides along for auditing, like `batch`.
    *
    * The writer-task count is EXPLICIT (`numShards`, default the
    * session's shuffle parallelism): an unnumbered `repartition(cols)`
    * is an AQE-adjustable exchange, and AQE's small-partition
    * coalescing would happily merge a hot token's spread cells back
    * into one writer — the exact ownership concentration the shard key
    * exists to prevent. */
  def exportPostings(df: DataFrame, idCol: String, textCol: String,
      root: String, batchId: Long, docBuckets: Int,
      numShards: Int = 0): Unit = {
    require(docBuckets >= 1, s"need docBuckets >= 1, got $docBuckets")
    require(numShards >= 0, s"need numShards >= 0 (0 = session default), got $numShards")
    val shards = if (numShards > 0) numShards
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val postings = Parallelism.spread(df, idCol)
      .select(col(idCol), size(tokens(col(textCol))).as("doc_len"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("doc_len"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("doc_bucket",
        pmod(TextFunctions.hash60(col(idCol).cast("string")), lit(docBuckets.toLong)))
      .repartition(shards, col("token"), col("doc_bucket"))
    BatchStore.append(postings, root, batchId)
  }

  /** [[andSearch]] OVER THE STORE: identical ranking semantics (docs
    * containing ALL terms, total-tf score, id tiebreak, top `k`) from
    * persisted postings instead of a corpus scan — pinned
    * value-identical to the scan path in Round10Spec. The term filter
    * reaches the parquet scan as a pushed `In(token, …)` predicate
    * (PlanSpec), so a query reads only its terms' row groups: the
    * point of maintaining the index. Assumes each doc's postings live
    * in exactly one batch (append deltas, don't re-append docs). */
  def andSearchFromStore(store: DataFrame, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct, got $terms")
    require(k >= 1, s"need k >= 1, got $k")
    store.filter(col("token").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(countDistinct(col("token")).as("__n_terms"),
        sum(col("tf")).as("score"))
      .filter(col("__n_terms") === terms.size)
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }
}
