package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions.tokens

/** Tokenizer-training statistics over a document corpus — the corpus
  * passes a BPE/vocabulary trainer runs before any model sees a byte:
  * adjacent-pair counts (the statistic each BPE merge maximizes),
  * frequency-ranked vocabulary with OOV coverage, and within-document
  * co-occurrence lift.
  *
  * Scale design (100 TB corpus):
  *  - Pair/token extraction is pure map-side array arithmetic —
  *    constant allocations per document (shifted-slice `zip_with`, the
  *    [[TextFunctions.hashedShingles]] trick applied to strings), no
  *    per-pair UDF, no explode-before-filter.
  *  - Every groupBy keys on the token/pair VALUE — uniform by
  *    construction (Zipf head keys are hot but partial aggregation
  *    absorbs them map-side; the reduce side sees one partial row per
  *    (partition, key)).
  *  - Top-k selections are `orderBy(...).limit(k)` —
  *    TakeOrderedAndProject, a per-partition heap + single k-row merge
  *    on the driver, never a global sort.
  *  - The vocabulary (k rows) broadcasts back for the coverage join;
  *    the corpus side stays a single map-side pass.
  */
object Tokenizer {

  /** Adjacent whitespace-token pairs as "left right" strings, one
    * array per document; `[]` for docs with < 2 tokens. */
  def adjacentPairs(textCol: Column): Column = {
    val toks = tokens(textCol)
    val m = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Corpus-wide adjacent-pair frequencies: `(pair, n_pairs)`. The
    * statistic a BPE trainer maximizes for its next merge rule. */
  def pairCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(adjacentPairs(col(textCol))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_pairs"))

  /** The top-k merge candidates, deterministically tie-broken by the
    * pair string — rank 1 is the merge a BPE trainer would apply. */
  def topPairs(docs: DataFrame, textCol: String, k: Int): DataFrame =
    pairCounts(docs, textCol)
      .orderBy(col("n_pairs").desc, col("pair"))
      .limit(k)

  /** Separator for BPE symbol strings — U+001F (unit separator), a
    * control char that never appears in natural-language tokens;
    * words containing it are excluded up front (the operator's one
    * input contract, enforced, not assumed). */
  private val BpeSep = "\u001f"

  /** ITERATED BPE merge training — the actual loop [[topPairs]] only
    * scores the first step of: count adjacent CHARACTER-level symbol
    * pairs weighted by word frequency, apply the argmax merge to
    * every word, recount, `nMerges` times (Sennrich-style; pair
    * counts include overlapping occurrences, merges apply greedily
    * left-to-right non-overlapping). Returns the learned merge table
    * `(merge_rank, s1, s2, pair_count)` — the artifact a tokenizer
    * ships.
    *
    * The 100 TB design is the WORD-FREQUENCY COMPRESSION: the corpus
    * is scanned ONCE (word → count), and every training iteration
    * runs over that vocab-sized frame — training cost is independent
    * of corpus size after the first pass, which is why BPE trainers
    * scale at all. Per iteration: one partial-aggregated pair count
    * over the vocab frame, a 1-row TakeOrdered argmax to the driver,
    * and a map-side merge rewrite (localCheckpoint per round bounds
    * the lineage, the kmeans discipline; each round releases the
    * previous round's blocks). One round per MERGE is fine at gate
    * scale but not at a production 30k-merge vocabulary — that is
    * [[bpeTrainBatched]], which applies the top-B non-conflicting
    * pairs per round.
    *
    * Cross-engine reproducibility: symbol sequences are SEPARATOR-
    * DELIMITED STRINGS (`␟c₁␟c₂␟…␟`) and a merge is a LEFT-TO-RIGHT
    * GREEDY PAIRING FOLD over the split symbol list ([[applyMerge]]):
    * if the accumulator's last symbol is `s1` and the next symbol is
    * `s2`, fuse them, else append — exactly Sennrich's scan
    * (`i += 2` after a merge). A literal
    * `replace(␟s1␟s2␟ → ␟s1s2␟)` is NOT equivalent: the match
    * consumes the shared boundary separator, so an even run like
    * `aaaa` under merge (a,a) yields [aa, a, a] instead of the
    * greedy [aa, aa] (the round-10 advice finding; the `aaaa`
    * trajectory is now pinned in Round11Spec). Both engines spell
    * the identical fold (Spark `aggregate`, DuckDB `list_reduce`),
    * so the whole training trajectory (including tie-breaks: count
    * desc, then (s1, s2) lexicographic) is bit-identical
    * (oracle-gated, q157). The fold cannot cascade: the fused symbol
    * `s1s2` can never equal `s1` (s2 is non-empty), so a fresh merge
    * site is never fabricated inside one application pass. */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = Checkpoints.scoped {
    val spark = docs.sparkSession
    import spark.implicits._
    // merges are driver-side; the scope releases the vocab pin
    val (merges, _) = bpeTrainCore(docs, textCol, nMerges, batch = 1)
    merges.map { case (r, _, s1, s2, c) => (r, s1, s2, c) }
      .toDF("merge_rank", "s1", "s2", "pair_count")
  }

  /** BATCHED BPE training: per round, apply the top-`batch` PAIRWISE
    * NON-CONFLICTING merges from one pair count instead of one — the
    * standard fix for [[bpeTrain]]'s round count: a production 30k–50k
    * merge vocabulary at one Spark job per merge is 30k sequential
    * driver round-trips; at batch B the round count drops ~B× (the
    * q173 gate measures 6 merges in 3 rounds; SCALE.md the nMerges=64
    * sweep).
    *
    * CONFLICT RULE: candidate P conflicts with an already-selected Q
    * iff `P.s1 = Q.s2` or `P.s2 = Q.s1` (their merge sites can share
    * a symbol occurrence: 'x a y' under (x,a)+(a,y) both claim the
    * 'a'); pairs sharing only a same-side symbol — (a,b)+(a,c),
    * (a,b)+(c,b) — have site-disjoint occurrences (one 'a' is
    * followed by either b or c, never both) and batch safely.
    * Selection is a greedy scan of the ranked list (count desc,
    * (s1, s2) lex — the [[bpeTrain]] tie rule): per slot, a top-1
    * over the pair frame filtered by the conflicts accumulated so
    * far, so selection is unbounded-correct (never "top-N then
    * filter", which could under-select behind a wall of conflicts).
    *
    * APPROXIMATION, stated: each selected merge records its
    * PRE-ROUND count, and in-round application is sequential in
    * selection order — non-conflicting sites are disjoint, so counts
    * stay exact for the selected pairs, but a B=1 trainer would
    * RECOUNT between them and could prefer a pair involving the
    * just-fused symbol; batch > 1 trades that lookahead for B× fewer
    * rounds (every fast BPE trainer's trade). `batch = 1` is
    * bit-identical to [[bpeTrain]] (pinned in Round11Spec; the q157
    * gated trajectory is unchanged).
    *
    * Returns `(merge_rank, round, s1, s2, pair_count)` — rank is the
    * global application order, `round` exposes the batching. */
  def bpeTrainBatched(docs: DataFrame, textCol: String, nMerges: Int,
      batch: Int): DataFrame = Checkpoints.scoped {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, _) = bpeTrainCore(docs, textCol, nMerges, batch)
    merges.toDF("merge_rank", "round", "s1", "s2", "pair_count")
  }

  /** Split a `␟…␟`-delimited symbol string into its symbol array. */
  private def symsOf(strCol: Column): Column =
    filter(split(strCol, java.util.regex.Pattern.quote(BpeSep)), s => s =!= "")

  /** Apply merge `(s1, s2)` to a symbol string with TRUE GREEDY
    * left-to-right pairing: fold the symbol list with a string
    * accumulator — if the accumulator's LAST symbol is `s1` (it
    * equals `s1`, or ends with `␟s1`; the separator guard makes a
    * symbol merely SUFFIXED by s1, like `xa` vs `a`, a non-match)
    * and the incoming symbol is `s2`, strip the trailing `s1` and
    * append the fused `s1s2`, else append `␟symbol`. Init is the
    * first symbol, so the accumulator never carries bounding
    * separators; the result is re-wrapped to the `␟…␟` form.
    * DuckDB mirrors this exact fold via `list_reduce` (same init
    * rule), so learned tables and segmentations hash-match. */
  private def applyMerge(strCol: Column, s1: String, s2: String): Column = {
    val syms = symsOf(strCol)
    val folded = aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      element_at(syms, 1),
      (acc, c) =>
        when((acc === lit(s1) || acc.endsWith(lit(BpeSep + s1))) && c === lit(s2),
          concat(acc.substr(lit(1), length(acc) - lit(s1.length)), lit(s1 + s2)))
          .otherwise(concat(acc, lit(BpeSep), c)))
    concat(lit(BpeSep), folded, lit(BpeSep))
  }

  /** The training loop behind [[bpeTrain]] / [[bpeTrainBatched]] /
    * [[bpeSegmentStats]]: returns the learned merges as
    * `(rank, round, s1, s2, count)` AND the final vocab frame
    * `(word, cnt, str)` — `str` is each distinct word's fully-merged
    * segmentation, still pinned in the caller's scope. */
  private def bpeTrainCore(docs: DataFrame, textCol: String, nMerges: Int,
      batch: Int): (Seq[(Int, Int, String, String, Long)], DataFrame) = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    require(batch >= 1, s"need batch >= 1, got $batch")
    val charArr = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    var vocab = docs.select(explode(tokens(col(textCol))).as("word"))
      .filter(!col("word").contains(BpeSep))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        concat(lit(BpeSep), concat_ws(BpeSep, charArr), lit(BpeSep)).as("str"))
      .transform(Checkpoints.pin)
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String, Long)]
    var exhausted = false
    var round = 1
    while (merges.size < nMerges && !exhausted) {
      val syms = symsOf(col("str"))
      val m = greatest(size(syms) - 1, lit(0))
      val pairs0 = vocab
        .select(col("cnt"), explode(zip_with(
          slice(syms, lit(1), m), slice(syms, lit(2), m),
          (a, b) => struct(a.as("s1"), b.as("s2")))).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("cnt")).as("c"))
      // batch > 1 runs up to `batch` top-1 selections against this
      // frame — barrier it so the vocab scan+explode runs once per
      // round, not per slot (single-consumer batch=1 skips it)
      val pairs = if (batch == 1) pairs0 else pairs0.transform(Checkpoints.pin)
      val want = math.min(batch, nMerges - merges.size)
      val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var open = true
      while (open && selected.size < want) {
        // greedy non-conflicting selection: drop candidates whose
        // merge sites could share a symbol occurrence with an
        // already-selected pair (see bpeTrainBatched's conflict rule)
        val eligible = selected.foldLeft(pairs) { case (df, (a1, a2, _)) =>
          df.filter(!(col("s1") === a1 && col("s2") === a2) &&
            col("s1") =!= a2 && col("s2") =!= a1)
        }
        val best = eligible.orderBy(col("c").desc, col("s1"), col("s2"))
          .limit(1).collect()
        if (best.isEmpty) open = false
        else selected +=
          ((best(0).getString(0), best(0).getString(1), best(0).getLong(2)))
      }
      if (batch > 1) Checkpoints.releasePinned(pairs)
      if (selected.isEmpty) exhausted = true // every word fully merged
      else {
        selected.foreach { case (s1, s2, c) =>
          merges += ((merges.size + 1, round, s1, s2, c)) }
        // apply the round's merges as SUCCESSIVE checkpointed
        // rewrites, one fold deep each — composing the folds into one
        // expression triples the subtree per level (the symbol array
        // is referenced 3×), i.e. ~3^B expression copies at batch B:
        // measured 7 s → 137 s at B=8 before this. The per-merge
        // eager materialization is the same cost batch=1 already
        // pays; what batching saves is the per-merge pair-count
        // aggregation (the explode-heavy job), not the rewrite.
        selected.foreach { case (s1, s2, _) =>
          val next = vocab.withColumn("str", applyMerge(col("str"), s1, s2))
            .transform(Checkpoints.pin)
          Checkpoints.releasePinned(vocab)
          vocab = next
        }
        round += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** BPE SEGMENTATION statistics — the apply half of the tokenizer
    * [[bpeTrain]] learns: segment the corpus with the trained merges
    * and report, per group, the compression the vocabulary buys
    * (`chars_per_token` — the number a tokenizer team actually
    * tracks per language/source when sizing a vocab).
    *
    * The apply side inherits the trainer's word-frequency
    * compression: each DISTINCT word is segmented ONCE (its final
    * `str` already sits in the trained vocab frame), and the corpus
    * pass is an explode + equi-join on the word value — no per-
    * occurrence re-segmentation, no driver loop. At 100 TB the join
    * shuffles (vocab can be 100M+ rows); the word key is Zipf-hot
    * but the aggregate above it is partial, and a broadcast variant
    * is a one-line swap when the vocab is capped. Words containing
    * the separator are excluded by the trainer's contract and
    * therefore drop from the stats (inner join), identically in the
    * oracle.
    *
    * Columns per group: `n_words` (occurrences), `total_chars`,
    * `total_bpe_tokens`, `chars_per_token`. */
  def bpeSegmentStats(docs: DataFrame, textCol: String,
      groupCols: Seq[String], nMerges: Int): DataFrame = {
    val (_, vocab) = bpeTrainCore(docs, textCol, nMerges, batch = 1)
    // the stats plan reads the pinned vocab lazily, so it reaches the
    // pin and the caller's scope keeps it
    segmentStatsFrom(vocab, docs, textCol, groupCols)
  }

  /** Per-group compression rollup from a segmented-vocab frame
    * `(word, str)` — the shared tail of [[bpeSegmentStats]] (segment
    * the training corpus) and [[bpeApplyStats]] (segment an unseen
    * one). */
  private def segmentStatsFrom(vocab: DataFrame, docs: DataFrame,
      textCol: String, groupCols: Seq[String]): DataFrame = {
    val seg = vocab.select(col("word"),
      size(symsOf(col("str"))).cast("long").as("n_syms"))
    val words = docs.select(
      groupCols.map(col) :+ explode(tokens(col(textCol))).as("word"): _*)
    words.join(seg, Seq("word"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("total_chars"),
        sum(col("n_syms")).as("total_bpe_tokens"))
      .withColumn("chars_per_token",
        col("total_chars").cast("double") / col("total_bpe_tokens"))
  }

  /** Segment an UNSEEN corpus with an ALREADY-TRAINED merge table —
    * the INFERENCE half of the tokenizer lifecycle
    * ([[bpeSegmentStats]] segments the corpus it trained on; a real
    * tokenizer trains once and then segments every new shard with
    * the frozen merges, exactly like the PQ codebook serves from
    * [[ModelStore]]). Each DISTINCT new-corpus word is segmented
    * once: char-split, then the merges applied IN RANK ORDER as the
    * same greedy pairing folds the trainer used ([[applyMerge]],
    * one checkpointed rewrite per merge — the ~3^B
    * expression-composition hazard applies here too); the per-group
    * rollup is [[bpeSegmentStats]]'s. Merges that match nothing in
    * the new corpus no-op, exactly as in any BPE tokenizer. Words
    * containing the separator are outside the trainer's contract
    * and drop from the stats (inner join), as in the training-side
    * stats. */
  def bpeApplyStats(docs: DataFrame, textCol: String,
      groupCols: Seq[String], merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "need a non-empty trained merge table")
    val charArr = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    var vocab = docs.select(explode(tokens(col(textCol))).as("word"))
      .filter(!col("word").contains(BpeSep))
      .distinct()
      .select(col("word"),
        concat(lit(BpeSep), concat_ws(BpeSep, charArr), lit(BpeSep)).as("str"))
      .transform(Checkpoints.pin)
    merges.foreach { case (s1, s2) =>
      val next = vocab.withColumn("str", applyMerge(col("str"), s1, s2))
        .transform(Checkpoints.pin)
      Checkpoints.releasePinned(vocab)
      vocab = next
    }
    segmentStatsFrom(vocab, docs, textCol, groupCols)
  }

  /** Frequency-ranked vocabulary: the `vocabSize` most frequent
    * tokens (ties broken by token string), with occurrence counts. */
  def vocabulary(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(vocabSize)

  /** Per-group OOV coverage of a frequency-capped vocabulary:
    * `(group..., n_tokens, n_oov, oov_rate)` where `n_oov` counts
    * token OCCURRENCES outside the top-`vocabSize` vocabulary.
    *
    * The vocabulary is k rows and broadcast; the corpus pass is one
    * map-side explode + broadcast left join (no corpus shuffle before
    * the final per-group rollup).
    */
  def vocabCoverage(docs: DataFrame, textCol: String, groupCols: Seq[String],
      vocabSize: Int): DataFrame = {
    val vocab = vocabulary(docs, textCol, vocabSize)
      .select(col("token"), lit(true).as("in_vocab"))
    val occurrences = docs.select(
      groupCols.map(col) :+ explode(tokens(col(textCol))).as("token"): _*)
    occurrences
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Top-k most similar document pairs by raw term-frequency dot
    * product — the SPARSE counterpart of [[Similarity]]'s dense ANN,
    * via an inverted-index self-join: `(token → postings)` joined with
    * itself on the token, never a dense all-pairs product.
    *
    * Tokens with document frequency above `maxDf` are pruned BEFORE
    * pair generation — the classic stopword guard: a token appearing
    * in half the corpus contributes O(n²) pairs; with the cap each
    * token contributes ≤ maxDf² and the join is bounded by
    * Σ_token df². Integer arithmetic end-to-end (tf counts, integer
    * products), so the scores are oracle-exact; the final top-k is
    * TakeOrderedAndProject with ties broken on the (a, b) pair.
    *
    * Shape (100 TB): tf and df aggregate on the token key (Zipf-hot
    * heads absorbed by map-side partial aggregation); the df filter
    * joins on the same token partitioning (exchange reuse — no extra
    * corpus shuffle); the pair aggregation keys on (doc_a, doc_b). */
  def tokenDotTopK(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Long, k: Int): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("doc")).agg(count(lit(1)).as("tf"))
    val keep = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("token"))
    val kept = tf.join(keep, Seq("token"))
    val a = kept.select(col("token"), col("doc").as("doc_a"), col("tf").as("tf_a"))
    val b = kept.select(col("token"), col("doc").as("doc_b"), col("tf").as("tf_b"))
    a.join(b, Seq("token"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
      .orderBy(col("dot").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** [[tokenDotTopK]] with the df cap RELATIVE to corpus size
    * (`df ≤ maxDfFraction · n_docs`) — the form a growing corpus
    * needs: an absolute cap silently loosens as the corpus scales
    * (SCALE.md measured the super-linear drift at 10×), while a
    * fractional cap keeps the pruned-list population, and so the
    * pair-generation cost, proportional to the data. The cap stays a
    * `Long` end-to-end: at the trillion-doc scale this variant exists
    * for, an `Int` cap would saturate and silently disable the prune. */
  def tokenDotTopKRelative(docs: DataFrame, idCol: String, textCol: String,
      maxDfFraction: Double, k: Int): DataFrame = {
    require(maxDfFraction > 0 && maxDfFraction <= 1,
      s"maxDfFraction must be in (0,1], got $maxDfFraction")
    val n = docs.count()
    tokenDotTopK(docs, idCol, textCol,
      math.max(1L, math.floor(maxDfFraction * n).toLong), k)
  }

  /** Document-level co-occurrence lift between the `vocabSize` tokens
    * with the highest document frequency:
    * `(token_a, token_b, n_both, df_a, df_b, lift)` for every pair
    * (a < b) co-occurring in at least one document, where
    * `lift = n_both * n_docs / (df_a * df_b)` — the PMI ratio WITHOUT
    * the logarithm, so the score is one exact integer product per pair
    * followed by a single double division (bit-identical across
    * engines; the log is monotone, so ranking is unchanged).
    *
    * Shape: two heavy corpus passes (rank the vocabulary; extract the
    * kept tokens) plus a doc_id-column count. The ≤ `vocabSize`-row
    * vocabulary is localCheckpoint'd so its three plan references cost
    * one aggregation, then broadcast into every join; pair generation
    * is array arithmetic over each document's ≤ `vocabSize` retained
    * tokens — never an exploded self-join of the corpus. Lifecycle:
    * [[Checkpoints]].
    */
  def cooccurrenceLift(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val tokd = docs.select(col(idCol),
      explode(array_distinct(tokens(col(textCol)))).as("token"))
    val vocab = tokd
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(vocabSize)
      .transform(Checkpoints.pin)

    // Corpus pass 2: keep only vocabulary tokens (broadcast hash
    // join, map-side), re-assemble the ≤ vocabSize survivors per doc,
    // then emit all (i < j) pairs from the sorted array. The groupBy
    // shuffles only the kept rows — ≤ vocabSize per document.
    val kept = tokd.join(broadcast(vocab.select(col("token"))), Seq("token"))
    val byDoc = kept.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("token"))).as("vt"))
    val vt = col("vt")
    val pairsOfDoc = when(size(vt) >= 2,
      flatten(transform(sequence(lit(1), size(vt) - 1), i =>
        transform(sequence(i + 1, size(vt)), j =>
          struct(element_at(vt, i).as("token_a"),
            element_at(vt, j).as("token_b"))))))
      .otherwise(array().cast("array<struct<token_a:string,token_b:string>>"))
    val pairs = byDoc.select(explode(pairsOfDoc).as("p"))
      .select(col("p.token_a"), col("p.token_b"))

    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    pairs
      .groupBy(col("token_a"), col("token_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(vocab.select(col("token").as("token_a"), col("df").as("df_a"))), Seq("token_a"))
      .join(broadcast(vocab.select(col("token").as("token_b"), col("df").as("df_b"))), Seq("token_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("token_a"), col("token_b"), col("n_both"), col("df_a"), col("df_b"),
        ((col("n_both") * col("n_docs")).cast("double") / (col("df_a") * col("df_b")))
          .as("lift"))
  }
}
