package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Checkpoints, Tokenizer}

/** Tokenizer-training queries over the `documents` corpus (q72–q74):
  * the corpus statistics a BPE/vocabulary trainer computes before any
  * model training — adjacent-pair merge candidates, vocabulary OOV
  * coverage, and within-document co-occurrence lift
  * (see [[graft.operators.Tokenizer]] for the 100 TB shapes).
  *
  * Cross-engine determinism: counts are integers, every ranking is
  * tie-broken on the token/pair string, and the two double outputs
  * (oov_rate, lift) are a single division of exactly-represented
  * integers — bit-identical in any IEEE engine.
  */
object VocabQueries {
  import TextQueries.dTokens

  // ---------------------------------------------------------------
  // q72 — the top-20 BPE merge candidates: corpus-wide adjacent-pair
  // frequencies, rank 1 being the merge a BPE trainer would apply
  // first. Pair extraction is shifted-slice zip_with (constant
  // allocations per doc); the groupBy keys on the pair value (uniform;
  // map-side partial aggregation absorbs the Zipf head) and the top-20
  // is TakeOrderedAndProject — never a global sort.
  private def q72(s: SparkSession, dir: String): DataFrame =
    Tokenizer.topPairs(Tables.documents(s, dir), "text", k = 20)
  private val q72Sql =
    s"""WITH t AS (SELECT $dTokens AS toks FROM documents),
       |p AS (SELECT unnest(list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i + 1])) AS pair FROM t)
       |SELECT pair, COUNT(*) AS n_pairs FROM p
       |GROUP BY pair ORDER BY n_pairs DESC, pair LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q73 — OOV coverage of a 50-token vocabulary, per language: what
  // fraction of token OCCURRENCES a frequency-capped vocab fails to
  // cover (the statistic that sizes a tokenizer's vocab). The vocab is
  // 50 rows and broadcast; the corpus side is one map-side pass.
  private def q73(s: SparkSession, dir: String): DataFrame =
    Tokenizer.vocabCoverage(Tables.documents(s, dir), "text", Seq("lang"),
        vocabSize = 50)
      .orderBy(col("lang"))
  private val q73Sql =
    s"""WITH tok AS (SELECT lang, unnest($dTokens) AS token FROM documents),
       |v AS (SELECT token FROM (
       |    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
       |    ORDER BY n DESC, token LIMIT 50)),
       |j AS (SELECT lang, tok.token, v.token AS vtoken
       |      FROM tok LEFT JOIN v ON tok.token = v.token)
       |SELECT lang, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN vtoken IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(SUM(CASE WHEN vtoken IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS oov_rate
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q74 — co-occurrence lift between the 12 highest-document-frequency
  // tokens: lift = n_both·n_docs / (df_a·df_b), the PMI ratio without
  // the monotone logarithm so the score is exact integer arithmetic +
  // one double division. Pairs come from per-doc sorted arrays (≤ 12
  // elements), never an exploded corpus self-join.
  private def q74(s: SparkSession, dir: String): DataFrame =
    Tokenizer.cooccurrenceLift(Tables.documents(s, dir), "doc_id", "text",
        vocabSize = 12)
      .orderBy(col("token_a"), col("token_b"))
  private val q74Sql =
    s"""WITH tokd AS (SELECT DISTINCT doc_id, unnest($dTokens) AS token
       |              FROM documents),
       |v AS (SELECT token, df FROM (
       |    SELECT token, COUNT(*) AS df FROM tokd GROUP BY token
       |    ORDER BY df DESC, token LIMIT 12)),
       |keep AS (SELECT doc_id, token FROM tokd
       |         WHERE token IN (SELECT token FROM v)),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |p AS (SELECT a.token AS token_a, b.token AS token_b, COUNT(*) AS n_both
       |      FROM keep a JOIN keep b
       |        ON a.doc_id = b.doc_id AND a.token < b.token
       |      GROUP BY 1, 2)
       |SELECT token_a, token_b, n_both, va.df AS df_a, vb.df AS df_b,
       |  CAST(n_both * n_docs AS DOUBLE) / (va.df * vb.df) AS lift
       |FROM p
       |JOIN v va ON va.token = token_a
       |JOIN v vb ON vb.token = token_b
       |CROSS JOIN n
       |ORDER BY token_a, token_b""".stripMargin

  // ---------------------------------------------------------------
  // q90 — top-15 most similar document pairs by term-frequency dot
  // product: sparse inverted-index self-join with the df > 350
  // stopword prune (the corpus's hottest tokens are dropped BEFORE
  // pair generation — the bound that keeps the join from going
  // quadratic; see [[Tokenizer.tokenDotTopK]]). Integer scores,
  // (a, b)-tie-broken top-k.
  private def q90(s: SparkSession, dir: String): DataFrame =
    Tokenizer.tokenDotTopK(Tables.documents(s, dir), "doc_id", "text",
      maxDf = 350, k = 15)
  private val q90Sql =
    s"""WITH tok AS (SELECT doc_id, unnest($dTokens) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |keep AS (SELECT token FROM (
       |    SELECT token, COUNT(*) AS df FROM tf GROUP BY 1) WHERE df <= 350),
       |t AS (SELECT tf.* FROM tf JOIN keep USING (token))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
       |FROM t a JOIN t b ON a.token = b.token AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY dot DESC, doc_a, doc_b LIMIT 15""".stripMargin

  // ---------------------------------------------------------------
  // q157 — the ITERATED BPE training loop ([[Tokenizer.bpeTrain]],
  // 8 merges): q72 scores only the FIRST merge; this runs the actual
  // trainer — character-level symbol pairs weighted by word
  // frequency, argmax merge applied greedily to every word, recount,
  // 8 rounds — and returns the learned merge table. The corpus is
  // scanned once (word → count); every round then runs on the
  // vocab-sized frame — the compression that makes BPE training
  // corpus-size-independent. The oracle replays all 8 rounds as
  // unrolled CTEs over the same greedy left-to-right pairing FOLD
  // (Spark `aggregate` / DuckDB `list_reduce`, identical init and
  // branch rules — a literal replace() would mis-pair even
  // same-symbol runs, the round-10 advice finding), so the whole
  // training trajectory including tie-breaks is bit-identical.
  private val BpeMerges = 8

  /** The q157/q158 shared oracle machinery: the full unrolled BPE
    * training chain — `words` → `v0` (char symbols) → per round i,
    * pair counts `p_i`, 1-row argmax `b_i`, rewritten vocab `v_i` —
    * mirroring [[Tokenizer.bpeTrain]]'s greedy-pairing fold exactly
    * (list_reduce with first-element init, the same
    * last-symbol-is-s1 test and strip-and-fuse arithmetic). */
  private val dSep = "chr(31)"

  /** DuckDB fragment: [[graft.operators.Tokenizer]]'s greedy-pairing
    * merge fold applied to string expression `strExpr` with merge
    * `(s1, s2)` (SQL expressions, e.g. `b.s1`) — list_reduce with
    * first-element init, the same last-symbol test and strip-and-fuse
    * arithmetic as the Spark `aggregate`. */
  private def dFold(strExpr: String, s1: String, s2: String): String =
    s"""$dSep || list_reduce(
      |      list_filter(string_split($strExpr, $dSep), x -> x <> ''),
      |      (acc, c) -> CASE WHEN (acc = $s1 OR ends_with(acc, $dSep || $s1))
      |                        AND c = $s2
      |                   THEN substr(acc, 1, length(acc) - length($s1)) || $s1 || $s2
      |                   ELSE acc || $dSep || c END) || $dSep""".stripMargin

  /** The shared `words` → `v0` (char-symbol strings) head CTEs;
    * `where` restricts the training corpus (q178 trains on the even
    * half). */
  private def bpeHeadCtes(where: String = ""): String =
    s"""words AS (SELECT word, COUNT(*) AS cnt FROM
      |    (SELECT unnest($dTokens) AS word FROM documents $where)
      |  WHERE NOT contains(word, $dSep) GROUP BY word),
      |v0 AS (SELECT word, cnt, $dSep ||
      |    array_to_string(list_transform(range(1, len(word) + 1),
      |      i -> word[i:i]), $dSep) || $dSep AS str
      |  FROM words)""".stripMargin

  private def bpeCtes(where: String = ""): String = {
    val levels = (1 to BpeMerges).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""p$i AS (SELECT cnt,
        |    unnest(list_transform(range(1, len(syms)), j -> syms[j])) AS s1,
        |    unnest(list_transform(range(1, len(syms)), j -> syms[j+1])) AS s2
        |  FROM (SELECT cnt,
        |      list_filter(string_split(str, $dSep), x -> x <> '') AS syms
        |    FROM $prev)),
        |b$i AS (SELECT s1, s2, CAST(SUM(cnt) AS BIGINT) AS c
        |  FROM p$i GROUP BY 1, 2 ORDER BY c DESC, s1, s2 LIMIT 1),
        |v$i AS (SELECT word, cnt,
        |    ${dFold("str", "b.s1", "b.s2")} AS str
        |  FROM $prev, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""${bpeHeadCtes()},
      |$levels""".stripMargin
  }

  private def q157(s: SparkSession, dir: String): DataFrame =
    Tokenizer.bpeTrain(Tables.documents(s, dir), "text", nMerges = BpeMerges)
      .orderBy(col("merge_rank"))
  private val q157Sql = {
    val finals = (1 to BpeMerges)
      .map(i => s"SELECT $i AS merge_rank, s1, s2, c AS pair_count FROM b$i")
      .mkString("\n UNION ALL ")
    s"""WITH ${bpeCtes()}
      |SELECT * FROM ($finals) ORDER BY merge_rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // q158 — BPE SEGMENTATION stats ([[Tokenizer.bpeSegmentStats]]):
  // the apply half of q157's trainer — per language, the compression
  // the 8-merge vocabulary buys (chars per BPE token), computed by
  // segmenting each DISTINCT word once (its final symbol string
  // already sits in the trained vocab frame) and joining doc word
  // occurrences against it: no per-occurrence re-segmentation
  // anywhere. The oracle rides the shared unrolled training chain
  // and reads v8 as the segmentation table.
  private def q158(s: SparkSession, dir: String): DataFrame =
    Tokenizer.bpeSegmentStats(Tables.documents(s, dir), "text",
        Seq("lang"), nMerges = BpeMerges)
      .orderBy(col("lang"))
  /** Per-language BPE segmentation stats over the words `docw(lang,
    * word)` and their symbol counts `seg(word, n_syms)` (q158, q178).
    * Unstripped. */
  private lazy val bpeStatsSelect =
    """SELECT d.lang, COUNT(*) AS n_words,
      |  CAST(SUM(len(d.word)) AS BIGINT) AS total_chars,
      |  CAST(SUM(s.n_syms) AS BIGINT) AS total_bpe_tokens,
      |  CAST(SUM(len(d.word)) AS DOUBLE) / SUM(s.n_syms) AS chars_per_token
      |FROM docw d JOIN seg s USING (word)
      |GROUP BY d.lang ORDER BY d.lang"""
  private val q158Sql = {
    val sep = "chr(31)"
    s"""WITH ${bpeCtes()},
      |seg AS (SELECT word,
      |    len(list_filter(string_split(str, $sep), x -> x <> '')) AS n_syms
      |  FROM v$BpeMerges),
      |docw AS (SELECT lang, unnest($dTokens) AS word FROM documents)
      |$bpeStatsSelect""".stripMargin
  }

  // ---------------------------------------------------------------
  // q173 — BATCHED BPE training ([[Tokenizer.bpeTrainBatched]],
  // 6 merges at batch 2 = 3 rounds): per round, ONE pair count feeds
  // a greedy scan of the ranked list that selects the top-2 pairwise
  // NON-CONFLICTING pairs (P conflicts with selected Q iff
  // P.s1 = Q.s2 or P.s2 = Q.s1 — their merge sites could claim the
  // same symbol occurrence), both applied before the next recount —
  // the round-count fix that makes a 30k-merge production vocabulary
  // feasible where q157's one-job-per-merge loop is not. The oracle
  // unrolls all 3 rounds: per round, aggregated pair counts, the
  // rank-1 selection `a_i`, the first non-conflicting runner-up
  // `b_i` (an unbounded filtered top-1, exactly the Spark scan), and
  // the vocab rewritten by BOTH greedy folds in selection order —
  // guarded through 1-row NULL forms so an exhausted selection
  // passes the vocab through instead of annihilating the cross
  // join. Counts recorded are pre-round (sites of non-conflicting
  // pairs are disjoint, so they are exact) — the documented batching
  // approximation vs a B=1 recount-between-merges trajectory.
  private val BatchedMerges = 6
  private val BatchedRounds = 3 // = BatchedMerges / batch
  private def q173(s: SparkSession, dir: String): DataFrame =
    Tokenizer.bpeTrainBatched(Tables.documents(s, dir), "text",
        nMerges = BatchedMerges, batch = 2)
      .orderBy(col("merge_rank"))
  private val q173Sql = {
    val levels = (1 to BatchedRounds).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      val saExpr = s"CASE WHEN a.s1 IS NULL THEN str ELSE ${dFold("str", "a.s1", "a.s2")} END"
      val sbExpr = s"CASE WHEN b.s1 IS NULL THEN ($saExpr) ELSE ${dFold(s"($saExpr)", "b.s1", "b.s2")} END"
      s"""p$i AS (SELECT s1, s2, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        |  SELECT cnt,
        |    unnest(list_transform(range(1, len(syms)), j -> syms[j])) AS s1,
        |    unnest(list_transform(range(1, len(syms)), j -> syms[j+1])) AS s2
        |  FROM (SELECT cnt,
        |      list_filter(string_split(str, $dSep), x -> x <> '') AS syms
        |    FROM $prev)) GROUP BY s1, s2),
        |a$i AS (SELECT s1, s2, c FROM p$i ORDER BY c DESC, s1, s2 LIMIT 1),
        |b$i AS (SELECT p.s1, p.s2, p.c FROM p$i p, a$i a
        |  WHERE NOT (p.s1 = a.s1 AND p.s2 = a.s2)
        |    AND p.s1 <> a.s2 AND p.s2 <> a.s1
        |  ORDER BY p.c DESC, p.s1, p.s2 LIMIT 1),
        |an$i AS (SELECT MAX(s1) AS s1, MAX(s2) AS s2 FROM a$i),
        |bn$i AS (SELECT MAX(s1) AS s1, MAX(s2) AS s2 FROM b$i),
        |v$i AS (SELECT word, cnt, $sbExpr AS str
        |  FROM $prev, an$i a, bn$i b)""".stripMargin
    }.mkString(",\n")
    val sels = (1 to BatchedRounds).flatMap { i =>
      Seq(s"SELECT $i AS round, 1 AS sel, s1, s2, c FROM a$i",
        s"SELECT $i AS round, 2 AS sel, s1, s2, c FROM b$i")
    }.mkString("\n UNION ALL ")
    s"""WITH ${bpeHeadCtes()},
      |$levels,
      |sels AS ($sels)
      |SELECT CAST(row_number() OVER (ORDER BY round, sel) AS INTEGER) AS merge_rank,
      |  CAST(round AS INTEGER) AS round, s1, s2, c AS pair_count
      |FROM sels ORDER BY merge_rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // q178 — TRAINED-TOKENIZER INFERENCE on an UNSEEN corpus
  // ([[Tokenizer.bpeApplyStats]]): train the 8-merge table on the
  // EVEN half of the corpus, freeze it, segment the ODD half — the
  // real tokenizer lifecycle (q158 segments the corpus it trained
  // on; production trains once and segments every new shard with the
  // frozen merges). Each distinct unseen word is char-split and the
  // merges applied in rank order as the same greedy pairing folds
  // the trainer used; merges that match nothing no-op. The oracle
  // unrolls BOTH halves: the training chain restricted to the even
  // half (the b_i argmaxes), then 8 apply folds over the odd half's
  // distinct words, then the per-language rollup — so a drift in
  // training, application order, or the fold itself breaks the hash.
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val trained = Tokenizer.bpeTrain(docs.filter(col("doc_id") % 2 === 0),
        "text", nMerges = BpeMerges)
      .orderBy(col("merge_rank"))
      .collect().toSeq.map(r => (r.getString(1), r.getString(2)))
    Tokenizer.bpeApplyStats(docs.filter(col("doc_id") % 2 === 1), "text",
        Seq("lang"), trained)
      .orderBy(col("lang"))
  }
  private val q178Sql = {
    val applyLevels = (1 to BpeMerges).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""w$i AS (SELECT word, ${dFold("str", "b.s1", "b.s2")} AS str
         |  FROM $prev, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeCtes("WHERE doc_id % 2 = 0")},
      |aw AS (SELECT DISTINCT word FROM
      |    (SELECT unnest($dTokens) AS word FROM documents WHERE doc_id % 2 = 1)
      |  WHERE NOT contains(word, $dSep)),
      |w0 AS (SELECT word, $dSep ||
      |    array_to_string(list_transform(range(1, len(word) + 1),
      |      i -> word[i:i]), $dSep) || $dSep AS str
      |  FROM aw),
      |$applyLevels,
      |seg AS (SELECT word,
      |    len(list_filter(string_split(str, $dSep), x -> x <> '')) AS n_syms
      |  FROM w$BpeMerges),
      |docw AS (SELECT lang, unnest($dTokens) AS word FROM documents
      |         WHERE doc_id % 2 = 1)
      |$bpeStatsSelect""".stripMargin
  }

  // ---------------------------------------------------------------
  // q207 — THE TOKENIZER AS A DURABLE MODEL ARTIFACT ([[graft
  // .operators.ModelStore.cachedAt]] serving [[Tokenizer.bpeTrain]]):
  // the train-once-serve-many discipline the PQ codebooks get
  // (q146/q148), applied to THE canonical persisted artifact of an
  // LLM pipeline — the trained tokenizer. Merges train once and
  // commit to an explicit durable root (stage-then-rename, a reader
  // never sees a half-written vocabulary); the SECOND call serves
  // from the committed parquet with no retraining — asserted
  // in-query via the ModelStore train counter, so a cache regression
  // that silently retrains per call fails the gate, not just a
  // dashboard. Segmentation of the unseen half runs from the SERVED
  // merges; training is deterministic and the artifact round-trips
  // strings exactly, so the oracle is q178's chain verbatim.
  private def q207(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q207_tok") { root =>
      def merges = graft.operators.ModelStore.cachedAt(s, root,
          s"q207_bpe:$dir") {
        Tokenizer.bpeTrain(docs.filter(col("doc_id") % 2 === 0),
          "text", nMerges = BpeMerges)
      }
      val before = graft.operators.ModelStore.trainedCount
      merges.count() // first call: train + commit
      val served = merges // second call: MUST read the committed artifact
      val trained = served.orderBy(col("merge_rank"))
        .collect().toSeq.map(r => (r.getString(1), r.getString(2)))
      require(graft.operators.ModelStore.trainedCount == before + 1,
        "tokenizer must train exactly once; the second call must serve " +
          "from the durable store")
      Tokenizer.bpeApplyStats(docs.filter(col("doc_id") % 2 === 1), "text",
          Seq("lang"), trained)
        .orderBy(col("lang"))
        .transform(Checkpoints.pin)
    }
  }
  private val q207Sql = q178Sql

  val all: Seq[QueryDef] = Seq(
    QueryDef("q207_bpe_from_model_store", q207, Some(q207Sql)),
    QueryDef("q72_bpe_pairs", q72, Some(q72Sql)),
    QueryDef("q73_vocab_coverage", q73, Some(q73Sql)),
    QueryDef("q74_cooccurrence", q74, Some(q74Sql)),
    QueryDef("q90_token_dot", q90, Some(q90Sql)),
    QueryDef("q157_bpe_train", q157, Some(q157Sql)),
    QueryDef("q158_bpe_segment", q158, Some(q158Sql)),
    QueryDef("q173_bpe_batched", q173, Some(q173Sql)),
    QueryDef("q178_bpe_apply_unseen", q178, Some(q178Sql)),
  )
}
