package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Checkpoints, Chunking, Decontaminate, Dedup, Multimodal, Pii, Sampling, Sketches, TextAnalysis, TextFunctions}

/** Training-data text operators over the `documents` table: per-doc
  * stats, quality scoring, language id, fingerprinting, exact dedup,
  * MinHash+LSH near-dup pairs, SimHash sketches, bucketed n-gram
  * Jaccard, and the multimodal binary-column plumbing.
  *
  * Oracle SQL notes: DuckDB `regexp_replace` needs the 'g' flag to
  * match Spark's replace-all; the shared 60-bit hash is
  * `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`; list folds seed via
  * `list_prepend` (DuckDB's reduce has no initial-value form).
  */
object TextQueries {

  /** DuckDB fragment: whitespace tokens of the string column `t`
    * (shared by every query object's oracle SQL). */
  private[queries] def dTokensOf(t: String) =
    s"list_filter(regexp_split_to_array(trim($t), '\\s+'), t -> t <> '')"
  /** DuckDB fragment: whitespace tokens of `text`. */
  private[queries] val dTokens = dTokensOf("text")
  /** DuckDB fragment: 60-bit md5 hash of an expression, value-identical
    * to [[graft.operators.TextFunctions.hash60]]. */
  private[queries] def dHash(x: String) = s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
  /** DuckDB fragment: distinct word-3-gram shingles of list `t`. */
  private def dShingles(t: String) =
    s"list_distinct(CASE WHEN len($t) >= 3 THEN " +
      s"list_transform(generate_series(1, len($t) - 2), i -> array_to_string($t[i:i+2], ' ')) " +
      s"ELSE [] END)"

  /** DuckDB fragment: the hashed bag-of-words embedding of token list
    * `toks` — `dim` buckets by md5(token) % dim, each token adding its
    * own md5-derived weight in [-1, 1] (a sequential fold from 0.0). */
  private def dHashedEmb(toks: String, dim: Int): String = {
    val w = s"(${dHash("'1:' || tk")} % 2001 - 1000) / 1000.0"
    s"""list_transform(range(0, $dim), d ->
      |    list_reduce(list_prepend(0.0, list_transform($toks, tk ->
      |      CASE WHEN ${dHash("tk")} % $dim = d THEN $w ELSE 0.0 END)),
      |      (a, b) -> a + b))""".stripMargin
  }
  /** DuckDB fragment: the L2 norm of list column `emb` (sequential fold). */
  private val dNorm = "sqrt(list_reduce(list_prepend(0.0, " +
    "list_transform(emb, x -> x * x)), (a, b) -> a + b))"
  /** The passage-retrieval family's chunking (q160/q164/q172/q193):
    * `t` tokens, `ch` 64-token chunks at stride 48 of every non-eval
    * doc (doc_id % 97 <> 3). Opens the WITH, ends with `ch`'s comma;
    * UNSTRIPPED (its lines keep the `|` margins) — the caller's
    * stripMargin strips it. */
  private val passageChunksSql =
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |ch AS (SELECT doc_id, CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
      |    toks[start:start+63] AS ctoks
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 48)) AS start
      |        FROM t WHERE len(toks) > 0 AND doc_id % 97 <> 3)),"""
  /** [[passageChunksSql]] plus the normed chunk embeddings
    * `cn(doc_id, chunk_id, emb, n)` and eval-query embeddings
    * `qn(query_id, emb, n)` (q160/q164). Ends with `qn`'s comma. */
  private val passageNormsSql =
    s"""$passageChunksSql
      |ce AS (SELECT doc_id, chunk_id, ${dHashedEmb("ctoks", 32)} AS emb FROM ch),
      |cn AS (SELECT doc_id, chunk_id, emb, $dNorm AS n FROM ce),
      |q0 AS (SELECT doc_id AS query_id, ${dHashedEmb("toks", 32)} AS emb FROM t
      |       WHERE doc_id % 97 = 3),
      |qn AS (SELECT query_id, emb, $dNorm AS n FROM q0),"""
  /** The 5 greedy MMR picks (λ = 1/2, empty-selected max = 0) unrolled
    * as CTEs m1..sel5 over the candidate CTE `cand`
    * (query_id, cid, rel), the pair similarities `s` and the empty
    * `sel0` (q164/q193). */
  private def mmrStepsSql(cand: String): String = (1 to 5).map { t =>
    s"""m$t AS (SELECT s.query_id, s.cid_a AS cid, MAX(s.sim) AS ms
      |  FROM s JOIN sel${t - 1} z
      |    ON s.query_id = z.query_id AND s.cid_b = z.cid
      |  GROUP BY 1, 2),
      |sc$t AS (SELECT c.query_id, c.cid, c.rel,
      |    0.5 * c.rel - 0.5 * COALESCE(m.ms, 0.0) AS mmr
      |  FROM $cand c LEFT JOIN m$t m
      |    ON c.query_id = m.query_id AND c.cid = m.cid
      |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} z
      |    WHERE z.query_id = c.query_id AND z.cid = c.cid)),
      |p$t AS (SELECT query_id, cid, rel, mmr, $t AS pick_rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY mmr DESC, cid) AS rn FROM sc$t) WHERE rn = 1),
      |sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM p$t)""".stripMargin
  }.mkString(",\n")

  // ---------------------------------------------------------------
  // q25 — per-document statistics (token counting).
  private def q25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.docStats(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))
  private val q25Sql =
    s"""WITH t AS (SELECT doc_id, text, $dTokens AS toks FROM documents)
      |SELECT doc_id,
      | CAST(len(toks) AS BIGINT) AS n_tokens,
      | CAST(length(text) AS BIGINT) AS n_chars,
      | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |   / NULLIF(length(text), 0) AS alpha_ratio,
      | CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
      |   / NULLIF(len(toks), 0) AS avg_word_len
      |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q26 — quality score per doc (fixed-weight heuristic).
  private def q26(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  /** DuckDB fragment: the fixed-weight quality score over columns
    * `text` and `toks` — mirrors [[TextAnalysis.qualityScore]] verbatim
    * (shared by q26 and the q63 curation pipeline). */
  private val dQuality = {
    val asciiStops = TextAnalysis.langStopwords.flatMap(_._2)
      .filter(_.forall(_ < 128)).map(w => s"'$w'").mkString(", ")
    s"""least(1.0, greatest(0.0,
      |   least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) * 0.3
      |   + COALESCE(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |       / NULLIF(length(text), 0), 0.0) * 0.4
      |   + least(COALESCE(CAST(len(list_filter(toks, w -> lower(w) IN ($asciiStops))) AS DOUBLE)
      |       / NULLIF(len(toks), 0), 0.0) * 4, 1.0) * 0.2
      |   + (1.0 - least(COALESCE(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
      |       / NULLIF(length(text), 0), 0.0) * 10, 1.0)) * 0.1))""".stripMargin
  }

  private val q26Sql =
    s"""WITH t AS (SELECT doc_id, lang, text, $dTokens AS toks FROM documents)
      |SELECT doc_id, lang,
      | $dQuality AS quality
      |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q27 — language-id heuristic vs the labeled lang (confusion counts).
  private def q27(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_pred"))
  private val q27Sql = {
    def hits(words: Seq[String]) =
      s"len(list_filter(lt, w -> w IN (${words.map(w => s"'$w'").mkString(", ")})))"
    val Seq(en, de, es, fr, zh) = TextAnalysis.langStopwords.map(p => hits(p._2))
    s"""WITH t AS (SELECT lang, list_transform($dTokens, w -> lower(w)) AS lt FROM documents),
      |sc AS (SELECT lang, $en AS s_en, $de AS s_de, $es AS s_es, $fr AS s_fr, $zh AS s_zh FROM t),
      |p AS (SELECT lang, CASE
      |   WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
      |   WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |   WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |   WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |   WHEN s_fr >= s_zh THEN 'fr'
      |   ELSE 'zh' END AS lang_pred FROM sc)
      |SELECT lang, lang_pred, COUNT(*) AS n_docs FROM p
      |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin
  }

  // ---------------------------------------------------------------
  // q28 — rolling-hash fingerprint per doc (normalized content).
  private def q28(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  private val q28Sql = {
    val normToks = "list_filter(regexp_split_to_array(trim(" +
      "regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\\s+'), t -> t <> '')"
    s"""SELECT doc_id,
      | list_reduce(list_prepend(CAST(0 AS BIGINT),
      |   list_transform($normToks, t -> ${dHash("t")})),
      |   (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q29 — exact dedup summary (content-hash groups).
  private def q29(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("content_hash")).as("n_unique"),
        sum(when(col("doc_id") =!= col("keeper_id"), 1).otherwise(0)).as("n_dupes_removed"))
  private val q29Sql =
    """WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
      |g AS (SELECT content_hash, min(doc_id) AS keeper_id FROM h GROUP BY content_hash)
      |SELECT COUNT(*) AS n_docs, COUNT(DISTINCT h.content_hash) AS n_unique,
      | CAST(SUM(CASE WHEN h.doc_id <> g.keeper_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes_removed
      |FROM h JOIN g ON h.content_hash = g.content_hash""".stripMargin

  // ---------------------------------------------------------------
  // q30 — MinHash+LSH near-dup pairs (16 perms, 8 bands × 2,
  // verified at trigram Jaccard >= 0.5).
  private def q30(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 16, shingleN = 3, bands = 8, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  /** The LSH pair machinery as a reusable CTE chain over `src` (must
    * expose doc_id + text): t → th → hb (hashed trigram shingles) →
    * sigs (16 minhashes) → bk (8 band keys) → cand. Shared by q30, the
    * q59 closure, and the q63 curation pipeline. */
  private def dLshCtes(src: String): String = {
    import graft.operators.Dedup.{minhashPermA, minhashPermB, MinhashPrime}
    val mh = (0 until 16).map(j =>
      s"list_min(list_transform(hs, h -> (${minhashPermA(j)} * h + ${minhashPermB(j)}) % $MinhashPrime)) AS mh$j")
      .mkString(",\n ")
    val bandSelects = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sigs")
      .mkString("\n UNION ALL ")
    s"""t AS (SELECT doc_id, $dTokens AS toks FROM $src),
      |th AS (SELECT doc_id,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM t),
      |hb AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(th) - 1),
      |    i -> ((((th[i] * 65599 + th[i+1]) % 4294967311) * 65599 + th[i+2]) % 4294967311) % 4294967296)) AS hs
      |  FROM th),
      |sigs AS (SELECT doc_id, hs, $mh FROM hb WHERE len(hs) > 0),
      |bk AS ($bandSelects),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Jaccard-verified pair select over the [[dLshCtes]] chain. */
  private val dLshPairsSelect =
    """SELECT id_a, id_b,
      | CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
      |   / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS jaccard
      |FROM cand JOIN hb sa ON cand.id_a = sa.doc_id JOIN hb sb ON cand.id_b = sb.doc_id
      |WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
      |   / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) >= 0.5""".stripMargin

  /** Transitive closure over a `pairs` CTE → `comp(doc_id, component)`.
    * Requires WITH RECURSIVE at the head of the enclosing query. */
  private val dCcCtes =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
      |         FROM reach GROUP BY src)""".stripMargin

  private val q30Sql =
    s"""WITH ${dLshCtes("documents")}
      |$dLshPairsSelect
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------
  // q31 — SimHash sketch per doc + cluster size on the exact sketch.
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val sk = Dedup.simhash(Tables.documents(s, dir), "doc_id", "text", bits = 32)
    sk.withColumn("n_sharing", count(lit(1)).over(Window.partitionBy(col("simhash"))))
      .orderBy(col("doc_id"))
  }
  private val q31Sql = {
    val bitTerms = (0 until 32).map(b =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $b) % 2) * 2 - 1)) > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |h AS (SELECT doc_id, list_transform(toks, x -> ${dHash("x")}) AS hs
      |      FROM t WHERE len(toks) > 0),
      |sk AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash FROM h)
      |SELECT doc_id, simhash, COUNT(*) OVER (PARTITION BY simhash) AS n_sharing
      |FROM sk ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q32 — bucketed n-gram Jaccard pairs (same lang+source bucket).
  private def q32(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.35, bucketCols = Seq("lang", "source"))
      .orderBy(col("id_a"), col("id_b"))
  private val q32Sql =
    s"""WITH t AS (SELECT doc_id, lang, source, $dTokens AS toks FROM documents),
      |shl0 AS (SELECT doc_id, lang, source, ${dShingles("toks")} AS sh FROM t
      |         WHERE len(${dShingles("toks")}) > 0),
      |shl AS (SELECT doc_id, lang, source,
      |        list_distinct(list_transform(sh, x -> ${dHash("x")})) AS sh FROM shl0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |FROM shl a JOIN shl b
      |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------
  // q33 — multimodal plumbing: binary payloads + stub decode via
  // mapPartitions, aggregated by media kind.
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir), "doc_id", "text")
    val feats = Multimodal.decodeStub(s, media)
    feats.groupBy(col("kind")).agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        (sum(col("width")).cast("double") / count(lit(1))).as("avg_width"),
        sum(col("frames")).as("total_frames"))
      .orderBy(col("kind"))
  }
  private val q33Sql =
    """WITH m AS (SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
      |f AS (SELECT kind, n_bytes, CAST(n_bytes % 640 AS INTEGER) AS width,
      |  CASE WHEN kind = 'video' THEN CAST(n_bytes % 30 + 1 AS INTEGER) ELSE 1 END AS frames
      |  FROM m)
      |SELECT kind, COUNT(*) AS n_media,
      | CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      | CAST(SUM(width) AS DOUBLE) / COUNT(*) AS avg_width,
      | CAST(SUM(frames) AS BIGINT) AS total_frames
      |FROM f GROUP BY kind ORDER BY kind""".stripMargin

  // q97 — video frame sampling: up to 4 evenly-strided frames per
  // video as binary slices with provenance + content md5 (see
  // [[Multimodal.frameSample]] — the codec is the honest stub, the
  // slicing/explode plumbing is real and map-side). Both sides filter
  // to ASCII payloads so DuckDB's VARCHAR substring is byte-exact
  // against Spark's binary slice.
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(octet_length(encode(col("text"), "UTF-8")) === length(col("text")))
    Multimodal.frameSample(
        Multimodal.mediaFromDocuments(docs, "doc_id", "text"), k = 4)
      .orderBy(col("media_id"), col("frame_idx"))
  }
  private val q97Sql =
    """WITH v AS (SELECT doc_id AS media_id, text,
      |    CAST(length(text) AS BIGINT) AS n
      |  FROM documents
      |  WHERE doc_id % 3 = 2 AND octet_length(encode(text)) = length(text)),
      |f AS (SELECT media_id, text, n % 30 + 1 AS frames,
      |        n // (n % 30 + 1) AS flen
      |      FROM v),
      |i AS (SELECT media_id, text, flen,
      |        unnest(list_distinct(list_transform(range(0, 4),
      |          j -> j * frames // 4))) AS frame_idx
      |      FROM f)
      |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(frame_idx * flen AS BIGINT) AS frame_offset,
      |  CAST(flen AS BIGINT) AS frame_len,
      |  md5(substring(text, CAST(frame_idx * flen + 1 AS BIGINT),
      |      CAST(flen AS BIGINT))) AS frame_md5
      |FROM i ORDER BY media_id, frame_idx""".stripMargin

  // q102 — corpus-segment similarity from MERGED MinHash signatures:
  // per-language group signatures via the SignatureMin typed
  // Aggregator (elementwise min — the MinHash of a shingle-set UNION),
  // then pairwise signature agreement next to the exact set Jaccard
  // that grounds it. The oracle computes the group signature the
  // mathematically-equivalent way (permuted min over the group's
  // distinct shingle union), so the gate checks the Aggregator's merge
  // semantics exactly — integers and two exact divisions, no envelope.
  private def q102(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.groupMinhashJaccard(Tables.documents(s, dir),
        groupCol = "lang", idCol = "doc_id", textCol = "text",
        k = 16, shingleN = 3, grounding = graft.operators.Dedup.ExactGrounding)
      .orderBy(col("ga"), col("gb"))
  /** q102/q120's group-MinHash oracle, opening: each language's
    * distinct 3-shingle hash set `s`. Unstripped. */
  private lazy val groupShinglesCtes =
    s"""WITH t AS (SELECT doc_id, lang, $dTokens AS toks FROM documents),
      |th AS (SELECT doc_id, lang,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM t),
      |hb AS (SELECT doc_id, lang,
      |  list_distinct(list_transform(range(1, len(th) - 1),
      |    i -> ((((th[i] * 65599 + th[i+1]) % 4294967311) * 65599 + th[i+2]) % 4294967311) % 4294967296)) AS hs
      |  FROM th),
      |s AS (SELECT DISTINCT lang, unnest(hs) AS h FROM hb WHERE len(hs) > 0),"""
  /** The 16 MinHash columns of a group signature over `s`. */
  private lazy val groupMh = {
    import graft.operators.Dedup.{minhashPermA, minhashPermB, MinhashPrime}
    (0 until 16).map(j =>
      s"min((${minhashPermA(j)} * h + ${minhashPermB(j)}) % $MinhashPrime) AS mh$j")
      .mkString(",\n  ")
  }
  /** q102/q120's group-MinHash oracle, closing: each language pair's
    * signature agreement next to the Jaccard of the grounding set,
    * named `jaccardCol`, from the `sig`, `n` and `i` CTEs. Unstripped. */
  private def groupJaccardSelect(jaccardCol: String): String = {
    val matchTerms = (0 until 16).map(j =>
      s"(CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""SELECT a.lang AS ga, b.lang AS gb,
      |  CAST($matchTerms AS BIGINT) AS sig_matches,
      |  CAST($matchTerms AS DOUBLE) / 16 AS est_jaccard,
      |  CAST(COALESCE(i.ni, 0) AS DOUBLE)
      |    / (na.n_sh + nb.n_sh - COALESCE(i.ni, 0)) AS $jaccardCol
      |FROM sig a JOIN sig b ON a.lang < b.lang
      |JOIN n na ON na.lang = a.lang JOIN n nb ON nb.lang = b.lang
      |LEFT JOIN i ON i.ga = a.lang AND i.gb = b.lang
      |ORDER BY ga, gb"""
  }
  private lazy val q102Sql =
    s"""$groupShinglesCtes
      |sig AS (SELECT lang, $groupMh FROM s GROUP BY lang),
      |n AS (SELECT lang, COUNT(*) AS n_sh FROM s GROUP BY lang),
      |i AS (SELECT a.lang AS ga, b.lang AS gb, COUNT(*) AS ni
      |      FROM s a JOIN s b ON a.h = b.h AND a.lang < b.lang GROUP BY 1, 2)
      |${groupJaccardSelect("exact_jaccard")}""".stripMargin

  // q45 — BPE-ish subword token counting next to whitespace tokens:
  // alpha runs, digit runs, and single punctuation marks (the
  // pre-tokenization shape BPE vocabularies train over). The pattern
  // uses only portable regex constructs so both engines agree.
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.operators.TextFunctions.tokenCount(col("text")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast("long").as("bpe_tokens"),
        (length(col("text")).cast("double") /
          nullif(size(regexp_extract_all(col("text"), lit(bpePattern), lit(0))), lit(0)))
          .as("chars_per_bpe_token"))
      .orderBy(col("doc_id"))
  }
  private val q45Sql =
    s"""SELECT doc_id,
      | CAST(len($dTokens) AS BIGINT) AS ws_tokens,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
      | CAST(length(text) AS DOUBLE)
      |   / NULLIF(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')), 0) AS chars_per_bpe_token
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q59 — near-dup CLUSTERS: connected components over the q30 LSH
  // pairs, each doc labeled with its cluster's min id (the canonical
  // survivor). Pairs alone under-delete — (a,b),(b,c) must collapse to
  // ONE survivor, which only the transitive closure knows. The oracle
  // computes the same closure with a recursive CTE over the q30 pair
  // SQL (tractable at oracle scale; the Spark side is the O(diameter)
  // min-label-propagation that works at corpus scale).
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
      k = 16, shingleN = 3, bands = 8, threshold = 0.5)
    Dedup.connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }
  private val q59Sql =
    s"""WITH RECURSIVE ${dLshCtes("documents")},
      |pairs AS ($dLshPairsSelect),
      |$dCcCtes
      |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q125 — leakage-safe train/val/test split: the q59 near-dup
  // CLUSTERS (not rows) are hashed into 5/5/90 val/test/train, so two
  // near-duplicate documents can never straddle a cut — a row-wise
  // split would let the eval set score memorization of a train twin.
  // Singleton docs (no LSH pair) are their own cluster. The split
  // itself is a map-side hash of the cluster label
  // ([[graft.operators.Sampling.groupSplit]]); all the shuffle cost is
  // the clustering the pipeline already ran.
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 16, shingleN = 3, bands = 8, threshold = 0.5)
    val comp = Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    val labeled = docs.select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("component"), col("doc_id")))
    Sampling.groupSplit(labeled, col("grp"),
        Seq(("val", 5), ("test", 10), ("train", 100)))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_clusters"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .orderBy(col("split"))
  }
  private val q125Sql = {
    val h = dHash("CAST(grp AS VARCHAR)")
    s"""WITH RECURSIVE ${dLshCtes("documents")},
      |pairs AS ($dLshPairsSelect),
      |$dCcCtes,
      |labeled AS (
      |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS grp, d.n_chars
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
      |sp AS (
      |  SELECT grp, n_chars,
      |    CASE WHEN $h % 100 < 5 THEN 'val'
      |         WHEN $h % 100 < 10 THEN 'test'
      |         ELSE 'train' END AS split
      |  FROM labeled)
      |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_clusters,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM sp GROUP BY split ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------
  // q130 — text → embedding → EXACT similarity within fixed source
  // buckets: the BOUNDED-BUCKET tool, not the scale default. The pair
  // join keys on the 20-value `source` column, so pairs grow as
  // corpus²/20 (measured 5.0× wall-clock at 10× data — SCALE.md);
  // use it when the bucket column genuinely bounds bucket size
  // (per-day slices, per-shard audits) and 100% within-bucket recall
  // is the point. The scale-safe default for the same question is
  // q131 below: the identical encoder feeding sign-projection LSH,
  // where bucket count grows with the bit budget instead of staying
  // fixed at the column's cardinality. Every double — components,
  // norms, dot, cosine — is a strict same-order fold in both engines,
  // so the oracle hash-matches the similarity values exactly.
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val dim = 8
    // MATERIALIZATION BARRIER before the self-join: without it
    // CollapseProject inlines the embedding expression into the
    // pair-level cosine, re-running the per-token md5s once per PAIR
    // (measured 5.4 s → 0.7 s at sf0.1). Same hazard and fix as
    // Dedup.withShingleSignatures; Bench.releaseBlocks frees the
    // checkpoint between runs.
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextFunctions.hashEmbed(col("text"), dim).as("emb"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("emb"), x => x * x), lit(0.0), (a, v) => a + v)))
      .filter(col("nrm") > 0)
      .transform(Checkpoints.pin)
    val left = docs.select(col("doc_id").as("id_a"), col("source"),
      col("emb").as("ea"), col("nrm").as("na"))
    val right = docs.select(col("doc_id").as("id_b"), col("source"),
      col("emb").as("eb"), col("nrm").as("nb"))
    left.join(right, Seq("source")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        aggregate(zip_with(col("ea"), col("eb"), (x, y) => x * y),
          lit(0.0), (a, v) => a + v) / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.9)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }
  private val q130Sql = {
    val emb = dHashedEmb("toks", 8)
    s"""WITH t AS (SELECT doc_id, source, $dTokens AS toks FROM documents),
      |e AS (SELECT doc_id, source, $emb AS emb FROM t),
      |n AS (SELECT doc_id, source, emb,
      |  sqrt(list_reduce(list_prepend(0.0,
      |    list_transform(emb, x -> x * x)), (a, b) -> a + b)) AS nrm
      |  FROM e),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  list_reduce(list_prepend(0.0,
      |    list_transform(range(1, 9), i -> a.emb[i] * b.emb[i])),
      |    (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
      |  FROM n a JOIN n b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE a.nrm > 0 AND b.nrm > 0)
      |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.9
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // q131 — text → embedding → near-dup at CORPUS scale: the scale-safe
  // default for embedding near-dup, composing the q130 encoder
  // ([[graft.operators.TextFunctions.hashEmbed]]) with q91's
  // sign-projection LSH engine
  // ([[graft.operators.Similarity.rpLshNearDupPairs]]): encoder →
  // ±1-hyperplane sign buckets (8 tables × 18 bits, plane coefs
  // regenerated from md5 in ANY engine) → exact-cosine verify of
  // COLLIDING pairs only. No fixed-cardinality bucket column anywhere:
  // candidate volume is bounded by the bit budget, tuned with the
  // corpus (bits ∝ log corpus), where q130's exact pair join is
  // pinned to corpus²/|sources|.
  //
  // (dim, bits, threshold) are MEASURED choices, not defaults — text
  // embeddings are adversarial for sign-LSH because bag-of-words
  // vectors share a dominant stopword-mass direction, so hyperplanes
  // through the origin barely cut the cloud:
  //  - dim 8 / 10 bits put ~10% of the 10× corpus in ONE cell
  //    (Σ|cell|² = 218M pairs for 50k docs, measured) and at a 0.9
  //    threshold unrelated docs pass verification (7106 of 125k
  //    possible pairs at sf0.01) — a quadratic RESULT, not just a
  //    quadratic stage;
  //  - dim 32 spreads the slots (effective rank up, random cosine
  //    down) and 18 bits cut cells to true duplicate groups:
  //    Σ|cell|² 847k → 8.4M for 10× data (near-linear), verified
  //    output 23 → 213 → 2360 across sf0.01/sf0.1/10× (linear).
  // Recall at the 0.98 threshold is 1−(1−0.936^18)^8 ≈ 0.94
  // (per-bit collision 1 − θ/π), →1 as cosine→1 — the LSH trade,
  // and the oracle runs the SAME LSH, so the gate checks the
  // bucketing/verify semantics exactly rather than hiding the trade
  // behind an exact baseline.
  //
  // The localCheckpoint is the same CollapseProject barrier as q130:
  // the embed expression feeds the norm, 60 signature dots, and both
  // pair sides — inlined, the per-token md5s would re-run per
  // signature bit and per candidate pair.
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val dim = 32
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.hashEmbed(col("text"), dim).as("emb"))
      .transform(Checkpoints.pin) // barrier FIRST: a filter above an alias gets
      // predicate-pushed below the project with the alias substituted,
      // which would run the whole encoder twice per row
      .filter(graft.operators.Similarity.l2Norm(col("emb")) > 0)
    // maxCellSize = 0: the explicit unguarded opt-out — THIS query's
    // (dim, bits, tables) were measured against the degenerate case
    // (SCALE.md r9) and its plan shape is pinned (PlanSpec/Metrics);
    // the operator's DEFAULT is now a derived fail-loud cap
    graft.operators.Similarity.rpLshNearDupPairs(docs, "doc_id", "emb",
        dim = dim, bits = 18, tables = 8, threshold = 0.98,
        maxCellSize = 0)
      .orderBy(col("id_a"), col("id_b"))
  }
  private val q131Sql = {
    val emb = dHashedEmb("toks", 32)
    val cos = "list_inner_product(ea.emb, eb.emb) / " +
      "(sqrt(list_inner_product(ea.emb, ea.emb)) * sqrt(list_inner_product(eb.emb, eb.emb)))"
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |e0 AS (SELECT doc_id, $emb AS emb FROM t),
      |v AS (SELECT doc_id, emb FROM e0
      |  WHERE sqrt(list_inner_product(emb, emb)) > 0),
      |planes AS (
      |  SELECT p, list_transform(range(0, 32), i ->
      |    CASE WHEN CAST('0x' || substr(md5('rp:' || p || ':' || i), 1, 15) AS BIGINT) % 2 = 0
      |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS coefs
      |  FROM range(0, 144) t(p)),
      |sig AS (
      |  SELECT v.doc_id, p // 18 AS rp_table,
      |    SUM(CASE WHEN list_inner_product(v.emb, pl.coefs) > 0
      |             THEN 1 << (p % 18) ELSE 0 END) AS rp_bucket
      |  FROM v CROSS JOIN planes pl GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b
      |    ON a.rp_table = b.rp_table AND a.rp_bucket = b.rp_bucket
      |   AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, $cos AS cosine
      |FROM cand JOIN v ea ON ea.doc_id = id_a JOIN v eb ON eb.doc_id = id_b
      |WHERE $cos > 0.98
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // q129 — per-SOURCE unique-content contribution: the curation
  // dashboard behind mixture decisions — for each source, how many of
  // its documents are canonical cluster survivors vs redundant copies
  // of content that exists elsewhere. Reuses the q59 clusters;
  // integer-only outputs (counts, not 1/|cluster| weights) so the
  // oracle hash-matches without cross-engine division concerns:
  //   n_docs            — source size
  //   n_clusters        — distinct content clusters the source touches
  //   n_canonical       — docs that ARE their cluster's keeper (min id)
  //   n_redundant       — docs whose cluster keeper lives elsewhere
  // A source with high n_docs but low n_canonical adds volume, not
  // content — downweight it in the q62/q71 mixture.
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 16, shingleN = 3, bands = 8, threshold = 0.5)
    val comp = Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    docs.select(col("doc_id"), col("source"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("component"), col("doc_id")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_clusters"),
        sum(when(col("doc_id") === col("grp"), 1L).otherwise(0L)).as("n_canonical"),
        sum(when(col("doc_id") =!= col("grp"), 1L).otherwise(0L)).as("n_redundant"))
      .orderBy(col("source"))
  }
  private val q129Sql =
    s"""WITH RECURSIVE ${dLshCtes("documents")},
      |pairs AS ($dLshPairsSelect),
      |$dCcCtes,
      |labeled AS (
      |  SELECT d.doc_id, d.source, COALESCE(c.component, d.doc_id) AS grp
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT grp) AS n_clusters,
      |  CAST(SUM(CASE WHEN doc_id = grp THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
      |  CAST(SUM(CASE WHEN doc_id <> grp THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant
      |FROM labeled GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q128 — INCREMENTAL dedup: the daily-refresh shape — a new batch
  // (hash-coin 10% of documents, the q48 discipline) deduped against
  // the history (the other 90%) without ever shuffling the history:
  // exact via md5 digests streamed against the broadcast batch set,
  // near via history band keys streamed against the broadcast batch
  // bands (history×history collisions are never formed), Jaccard
  // verified. One row per batch doc with its exact/near verdicts —
  // re-running a global q30 over history ∪ batch every day re-pays
  // the history self-join; this is the operator that doesn't (see
  // [[graft.operators.Dedup.incrementalDedup]] scale notes).
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isBatch =
      pmod(TextFunctions.hash60(col("doc_id").cast("string")), lit(10L)) < 1
    Dedup.incrementalDedup(docs.filter(!isBatch), docs.filter(isBatch),
        "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
      .orderBy(col("doc_id"))
  }
  // Mirrors dLshCtes with an `is_batch` carry flag (the shared chain
  // can't thread extra columns without touching the q30/q59/q63
  // oracles); the hashing is verbatim-identical. `hist(alias)` is the
  // predicate selecting the HISTORY side — q128 uses NOT is_batch,
  // q188 additionally excludes erased docs.
  private def incDedupSql(hist: String => String): String = {
    import graft.operators.Dedup.{minhashPermA, minhashPermB, MinhashPrime}
    val mh = (0 until 16).map(j =>
      s"list_min(list_transform(hs, h -> (${minhashPermA(j)} * h + ${minhashPermB(j)}) % $MinhashPrime)) AS mh$j")
      .mkString(",\n ")
    val bandSelects = (0 until 8).map(b =>
      s"SELECT doc_id, is_batch, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sigs")
      .mkString("\n UNION ALL ")
    val jac = "CAST(len(list_intersect(sb.hs, sh.hs)) AS DOUBLE) / " +
      "(len(sb.hs) + len(sh.hs) - len(list_intersect(sb.hs, sh.hs)))"
    s"""WITH t AS (SELECT doc_id,
      |  ${dHash("CAST(doc_id AS VARCHAR)")} % 10 < 1 AS is_batch,
      |  md5(text) AS chash, $dTokens AS toks FROM documents),
      |th AS (SELECT doc_id, is_batch,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM t),
      |hb AS (SELECT doc_id, is_batch,
      |  list_distinct(list_transform(range(1, len(th) - 1),
      |    i -> ((((th[i] * 65599 + th[i+1]) % 4294967311) * 65599 + th[i+2]) % 4294967311) % 4294967296)) AS hs
      |  FROM th),
      |sigs AS (SELECT doc_id, is_batch, hs, $mh FROM hb WHERE len(hs) > 0),
      |bk AS ($bandSelects),
      |cand AS (SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
      |  FROM bk b JOIN bk h ON b.band = h.band AND b.key = h.key
      |  AND b.is_batch AND ${hist("h")}),
      |ver AS (SELECT bid, $jac AS jaccard
      |  FROM cand JOIN hb sb ON cand.bid = sb.doc_id
      |            JOIN hb sh ON cand.hid = sh.doc_id
      |  WHERE $jac >= 0.5),
      |nears AS (SELECT bid, COUNT(*) AS n_near_dups, MAX(jaccard) AS best_jaccard
      |  FROM ver GROUP BY bid),
      |exacts AS (SELECT DISTINCT b.doc_id AS bid FROM t b
      |  JOIN t h ON b.chash = h.chash AND b.is_batch AND ${hist("h")})
      |SELECT t.doc_id, e.bid IS NOT NULL AS is_exact_dup,
      |  CAST(COALESCE(n.n_near_dups, 0) AS BIGINT) AS n_near_dups,
      |  n.best_jaccard
      |FROM t LEFT JOIN exacts e ON t.doc_id = e.bid
      |       LEFT JOIN nears n ON t.doc_id = n.bid
      |WHERE t.is_batch ORDER BY t.doc_id""".stripMargin
  }
  private val q128Sql = incDedupSql(a => s"NOT $a.is_batch")

  // ---------------------------------------------------------------
  // q188 — ERASURE IN THE SIGNATURE STORE ([[graft.operators.Dedup
  // .deleteFromSignatureStore]] / [[Dedup.purgeSignatureStore]]): the
  // q180/q187 takedown lifecycle on the DEDUP side — an erased
  // document's content digest and MinHash sketch derive from its text
  // and must go with it, which also means content identical to the
  // erased doc is ADMITTED again (the store no longer remembers what
  // to suppress against: that is what erasure means). Build the q134
  // store in two batches, DELETE every history doc_id % 9 == 4,
  // verdict the day's batch against the masked read, PURGE, verdict
  // again — identical in-plan. Oracle: q128's chain with the erased
  // docs excluded from the history side (batch side untouched).
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isBatch =
      pmod(TextFunctions.hash60(col("doc_id").cast("string")), lit(10L)) < 1
    val hist = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    StoreGates.withTempStore(s, "graft_q188_store") { root =>
      // independent appends (distinct batch ids) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => Dedup.writeSignatureStore(hist.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", k = 16, shingleN = 3, root = root, batchId = 1L),
        () => Dedup.writeSignatureStore(hist.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", k = 16, shingleN = 3, root = root, batchId = 2L)))
      Dedup.deleteFromSignatureStore(
        hist.filter(col("doc_id") % 9 === 4).select(col("doc_id")),
        "doc_id", root, batchId = 3L)
      def verdict() = Dedup.incrementalDedupFromStore(
          Dedup.readSignatureStore(s, root, "doc_id"), batch,
          "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
        .transform(Checkpoints.pin)
      val masked = verdict()
      Dedup.purgeSignatureStore(s, root, "doc_id", newBatchId = 4L)
      val purged = verdict()
      StoreGates.compactionIdentityGate(masked, purged,
          "purge changed the dedup verdict")
        .orderBy(col("doc_id"))
        .transform(Checkpoints.pin)
    }
  }
  private val q188Sql =
    incDedupSql(a => s"NOT $a.is_batch AND $a.doc_id % 9 <> 4")

  // ---------------------------------------------------------------
  // q134 — q128 THROUGH THE PERSISTED SIGNATURE STORE: the history's
  // [[graft.operators.Dedup.dedupSignatures]] are committed to a
  // parquet store (one batch) and the verdict runs
  // `incrementalDedupFromStore` — the verdict plan reads the store's
  // (digest, shingle-hash, minhash) columns and NEVER touches the
  // history's text. Same oracle as q128: the store is an
  // implementation detail the result must not see. This is the
  // 100 TB daily shape — q128 prices the recompute path, q134 prices
  // (and gates) the persisted path. The store is localCheckpoint-
  // drained and deleted before returning, so each run is hermetic.
  private def q134(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isBatch =
      pmod(TextFunctions.hash60(col("doc_id").cast("string")), lit(10L)) < 1
    StoreGates.withTempStore(s, "graft_q134_store") { root =>
      Dedup.writeSignatureStore(docs.filter(!isBatch), "doc_id", "text",
        k = 16, shingleN = 3, root = root, batchId = 1L)
      Dedup.incrementalDedupFromStore(
          Dedup.readSignatureStore(s, root), docs.filter(isBatch),
          "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
        .transform(Checkpoints.pin)
    }.orderBy(col("doc_id"))
  }
  private val q134Sql = q128Sql

  // ---------------------------------------------------------------
  // q239 — q134 THROUGH THE BLOOM-PRUNED STORE SERVE: the history's
  // signatures land as NINE daily banded batches
  // ([[graft.operators.Dedup.writeSignatureStoreBanded]] — each
  // append also commits a content-digest + band-key Bloom sidecar),
  // and the verdict runs [[graft.operators.Dedup
  // .incrementalDedupFromStoreAt]], whose exact and near passes scan
  // ONLY the batch dirs whose sidecar sketch might collide with the
  // day's delta. Same oracle as q128/q134: sidecars have no false
  // negatives, so the pruned serve is value-identical to the flat
  // one — the layout moves scan bytes, never verdicts (Round17Spec
  // pins the input-record reduction; the depth probe pins flatness
  // across history). This is the piece that deletes the last
  // history-proportional term in the daily-refresh serve: per-epoch
  // store input scales with the delta's collisions, not corpus age.
  private def q239(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val coin = pmod(TextFunctions.hash60(col("doc_id").cast("string")),
      lit(10L))
    StoreGates.withTempStore(s, "graft_q239_store") { root =>
      // nine independent daily appends (distinct batch ids; the _bands
      // meta commit is race-hardened) — overlap them, pool of 4 in
      // flight (guide §2.6, r19: the sequential chain paid nine
      // straggler tails)
      graft.operators.ParallelJobs.run((1 to 9).map(b => () =>
        Dedup.writeSignatureStoreBanded(docs.filter(coin === b), "doc_id",
          "text", k = 16, shingleN = 3, bands = 8, root = root,
          batchId = b.toLong)))
      Dedup.incrementalDedupFromStoreAt(s, root,
          docs.filter(coin < 1), "doc_id", "text", k = 16, shingleN = 3,
          bands = 8, threshold = 0.5)
        .transform(Checkpoints.pin)
    }.orderBy(col("doc_id"))
  }
  private val q239Sql = q128Sql

  // ---------------------------------------------------------------
  // q140 — canonical cluster survivors by QUALITY: the q59 near-dup
  // clusters re-adjudicated with the q26 quality score — each
  // multi-doc cluster keeps its highest-quality member (id ascending
  // as the deterministic tiebreak), not the arbitrary min-id keeper.
  // One window shuffle on the cluster key beyond the clustering
  // chain; quality doubles are the engine-mirrored q26 expression, so
  // the canonical scores hash-match exactly.
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 16, shingleN = 3, bands = 8, threshold = 0.5)
    val comp = Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    val labeled = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("component"), col("doc_id")))
    Dedup.canonicalByScore(labeled, "doc_id", "grp", "quality")
      .filter(col("n_docs") > 1)
      .orderBy(col("grp"))
  }
  private val q140Sql =
    s"""WITH RECURSIVE ${dLshCtes("documents")},
      |pairs AS ($dLshPairsSelect),
      |$dCcCtes,
      |ql AS (SELECT d.doc_id, $dQuality AS quality
      |  FROM documents d JOIN t ON d.doc_id = t.doc_id),
      |labeled AS (
      |  SELECT q.doc_id, q.quality, COALESCE(c.component, q.doc_id) AS grp
      |  FROM ql q LEFT JOIN comp c ON q.doc_id = c.doc_id),
      |r AS (SELECT grp, doc_id, quality,
      |    COUNT(*) OVER (PARTITION BY grp) AS n_docs,
      |    row_number() OVER (PARTITION BY grp ORDER BY quality DESC, doc_id) AS rn
      |  FROM labeled)
      |SELECT grp, n_docs, doc_id AS canonical_id, quality AS canonical_score
      |FROM r WHERE rn = 1 AND n_docs > 1 ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------
  // q141 — cross-SOURCE overlap matrix from K-minimum-values
  // sketches: for every source pair, how much shingle-level content
  // the two sources share — the mixture-design companion to q129
  // (q129 says how redundant a source is with the WHOLE corpus; this
  // says WITH WHOM). Each source is reduced to its 64 smallest
  // distinct trigram-shingle hashes ([[graft.operators.Sketches
  // .kMinValues]] — two-level bottom-k, never one task per source),
  // and the matrix is a join of sketch rows: n_common = |KMV(a) ∩
  // KMV(b)|, an EXACT INTEGER over the sketches (the estimator
  // |∩|/k for containment is a downstream division; keeping the raw
  // counts keeps the gate float-free). Zero-overlap pairs are kept
  // (n_common = 0): an audit that silently omits "no overlap" rows
  // can't distinguish them from "not measured". At 100 TB the
  // sketches are ~sources·k rows — the pairwise stage is driver-
  // trivial no matter the corpus size; all corpus-sized work is the
  // distinct + bounded windows inside kMinValues.
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val grams = docs.select(col("source"),
      explode(TextFunctions.hashedShingles(
        TextFunctions.tokens(col("text")), 3)).as("h"))
    // MATERIALIZATION BARRIER: the sketch feeds THREE consumers
    // (sizes + both sides of the pairwise join); without it each
    // consumer re-scans and re-hashes the whole corpus (measured 3
    // parquet scans in the plan). The checkpointed frame is
    // sketch-sized (≤ sources·k rows), so the barrier costs nothing.
    val sk = Sketches.kMinValues(grams, "source", "h", k = 64)
      .transform(Checkpoints.pin)
    val sizes = sk.groupBy(col("source")).agg(count(lit(1)).as("sk_n"))
    val pairs = sizes.select(col("source").as("source_a"), col("sk_n").as("n_a"))
      .join(sizes.select(col("source").as("source_b"), col("sk_n").as("n_b")),
        col("source_a") < col("source_b"))
    val common = sk.select(col("source").as("source_a"), col("h"))
      .join(sk.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs.join(common, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .orderBy(col("source_a"), col("source_b"))
  }
  /** q141/q145's oracle opening: each source's distinct 3-shingle
    * hashes `e` and its 64-minimum KMV sketch `sk`. Unstripped. */
  private lazy val kmvSketchCtes =
    s"""WITH t0 AS (SELECT source, $dTokens AS toks FROM documents),
      |th0 AS (SELECT source,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM t0),
      |e0 AS (SELECT source, unnest(
      |  list_transform(range(1, len(th) - 1),
      |    i -> ((((th[i] * 65599 + th[i+1]) % 4294967311) * 65599 + th[i+2]) % 4294967311) % 4294967296)) AS h
      |  FROM th0),
      |e AS (SELECT DISTINCT source, h FROM e0),
      |r AS (SELECT source, h,
      |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM e),
      |sk AS (SELECT source, h FROM r WHERE rn <= 64),"""
  private lazy val q141Sql =
    s"""$kmvSketchCtes
      |sz AS (SELECT source, COUNT(*) AS sk_n FROM sk GROUP BY source),
      |p AS (SELECT a.source AS source_a, b.source AS source_b,
      |    a.sk_n AS n_a, b.sk_n AS n_b
      |  FROM sz a JOIN sz b ON a.source < b.source),
      |c AS (SELECT x.source AS source_a, y.source AS source_b,
      |    COUNT(*) AS n_common
      |  FROM sk x JOIN sk y ON x.h = y.h AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT p.source_a, p.source_b, p.n_a, p.n_b,
      |  CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common
      |FROM p LEFT JOIN c
      |  ON p.source_a = c.source_a AND p.source_b = c.source_b
      |ORDER BY p.source_a, p.source_b""".stripMargin

  // ---------------------------------------------------------------
  // q145 — the q141 KMV sketch pulling DOUBLE DUTY as a per-source
  // distinct-shingle-count estimator, with its envelope audited in
  // exact INTEGERS (the q57/q80 sketch-gate discipline): for a full
  // sketch the classic KMV estimate is (k−1)·M / h_k (M = 2^32, h_k
  // = the k-th minimum = the sketch max) — integer DIV in both
  // engines, so the estimate itself is oracle-comparable, not just
  // the boolean; an under-full sketch IS the exact count. The audit
  // (exact distinct per source, a full (source, h) shuffle) is a
  // test-time device — production keeps only the sketch, which is
  // why the estimator matters at 100 TB. within_bound = the estimate
  // lands within ±50% (k=64 ⇒ σ ≈ 1/√62 ≈ 12.7%; 50% ≈ 4σ) —
  // all-integer comparison, no float drift.
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // barrier on the DISTINCT (source, hash) set: both the sketch and
    // the exact audit consume it — without it each re-scans and
    // re-hashes the corpus (the q141 lesson; the distinct set is the
    // smallest shared frame, so it is the right place to cut)
    val grams = docs.select(col("source"),
        explode(TextFunctions.hashedShingles(
          TextFunctions.tokens(col("text")), 3)).as("h"))
      .distinct().transform(Checkpoints.pin)
    val sk = Sketches.kMinValues(grams, "source", "h", k = 64)
    val est = sk.groupBy(col("source"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("h_max"))
      .withColumn("kmv_est",
        when(col("n_sk") < 64, col("n_sk"))
          .otherwise(expr("270582939648 DIV h_max")).cast("long"))
    val exact = grams
      .groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    est.join(exact, Seq("source"))
      .select(col("source"), col("n_exact"), col("kmv_est"),
        (abs(col("kmv_est") - col("n_exact")) * 2 <= col("n_exact"))
          .as("within_bound"))
      .orderBy(col("source"))
  }
  private lazy val q145Sql =
    s"""$kmvSketchCtes
      |agg AS (SELECT source, COUNT(*) AS n_sk, MAX(h) AS h_max
      |  FROM sk GROUP BY source),
      |ex AS (SELECT source, COUNT(*) AS n_exact FROM e GROUP BY source)
      |SELECT a.source, ex.n_exact,
      |  CAST(CASE WHEN a.n_sk < 64 THEN a.n_sk
      |       ELSE 270582939648 // a.h_max END AS BIGINT) AS kmv_est,
      |  ABS(CAST(CASE WHEN a.n_sk < 64 THEN a.n_sk
      |       ELSE 270582939648 // a.h_max END AS BIGINT) - ex.n_exact) * 2
      |    <= ex.n_exact AS within_bound
      |FROM agg a JOIN ex ON a.source = ex.source
      |ORDER BY a.source""".stripMargin

  // ---------------------------------------------------------------
  // q147 — per-SOURCE adaptive quality cutoffs: each source keeps its
  // own top 75% by quality (cutoff = the exact p25 order statistic
  // WITHIN the source), the curation shape that stops one low-quality
  // source from being judged by another's distribution — a single
  // global threshold either floods the corpus with the spammy
  // source's best or deletes the clean source's normal. The cutoff
  // comes from [[graft.operators.Sampling.groupQuantileDisc]] — the
  // two-level histogram selection that never buffers a group (the
  // exact `percentile` aggregate's memory wall when one source is
  // corpus-sized); the oracle computes the same rank naively. Quality
  // doubles are the engine-mirrored q26 expression, so cutoffs
  // hash-match exactly.
  private def q147(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // barrier: the scored frame feeds the quantile's two passes AND
    // the keep-count join — without it the quality regexes run 3×
    val scored = docs.select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .transform(Checkpoints.pin)
    val cut = Sampling.groupQuantileDisc(scored, "source", "quality", q = 0.25)
      .withColumnRenamed("quantile", "cutoff")
    scored.join(broadcast(cut), Seq("source"))
      .groupBy(col("source"), col("n_rows"), col("cutoff"))
      .agg(sum(when(col("quality") >= col("cutoff"), 1L).otherwise(0L))
        .as("n_kept"))
      .select(col("source"), col("n_rows").as("n_docs"), col("cutoff"),
        col("n_kept"))
      .orderBy(col("source"))
  }
  private val q147Sql =
    s"""WITH t AS (SELECT doc_id, source, text, $dTokens AS toks FROM documents),
      |ql AS (SELECT doc_id, source, $dQuality AS quality FROM t),
      |r AS (SELECT source, quality,
      |    row_number() OVER (PARTITION BY source ORDER BY quality) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n FROM ql),
      |cut AS (SELECT source, MAX(n) AS n_docs,
      |    MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN quality END) AS cutoff
      |  FROM r GROUP BY source)
      |SELECT c.source, c.n_docs, c.cutoff,
      |  CAST(SUM(CASE WHEN q.quality >= c.cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM ql q JOIN cut c ON q.source = c.source
      |GROUP BY 1, 2, 3 ORDER BY c.source""".stripMargin

  // ---------------------------------------------------------------
  // q144 — exact PHRASE search: which documents contain this exact
  // token sequence, ranked by occurrence count — the decontamination
  // audit q139's token-level AND search cannot answer (terms present
  // ≠ phrase present). The phrase compiles to ONE 32-bit rolling
  // gram hash at plan time (q121's positional-gram chain), each doc
  // contributes a map-side count of matching positions, and the
  // top-k is TakeOrderedAndProject — no shuffle before the partial
  // ranks. The oracle recomputes the target hash FROM THE TOKENS in
  // SQL (engine independence, the q91 hyperplane discipline).
  private val q144Phrase = Seq("slow", "hash", "batch")
  private def q144(s: SparkSession, dir: String): DataFrame =
    graft.operators.InvertedIndex.phraseSearch(
      Tables.documents(s, dir), "doc_id", "text", q144Phrase, k = 20)
  private val q144Sql = {
    val gh = (2 to q144Phrase.length).foldLeft("th[i]") { (acc, j) =>
      s"(($acc * 65599 + th[i+${j - 1}]) % 4294967311)"
    } + " % 4294967296"
    val tgt = q144Phrase.tail.foldLeft(
      s"(${dHash(s"'${q144Phrase.head}'")} % 4294967296)") { (acc, tok) =>
      s"(($acc * 65599 + ${dHash(s"'$tok'")} % 4294967296) % 4294967311)"
    } + " % 4294967296"
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |th AS (SELECT doc_id,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM t),
      |g AS (SELECT doc_id, $gh AS gh
      |  FROM th, UNNEST(generate_series(1, greatest(len(th) - ${q144Phrase.length - 1}, 0))) AS u(i)),
      |tgt AS (SELECT $tgt AS h)
      |SELECT doc_id, COUNT(*) AS n_occurrences
      |FROM g, tgt WHERE g.gh = tgt.h
      |GROUP BY doc_id ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------
  // q138 — inverted-index construction: one row per vocabulary token
  // with df / cf / the first-8 posting head (see
  // [[graft.operators.InvertedIndex]] — the head is a streaming
  // window rank, never a materialized per-token posting list, which
  // is the stopword-skew hazard at corpus scale; the stats aggregate
  // rides the window's own token-hash exchange, pinned in PlanSpec).
  private def q138(s: SparkSession, dir: String): DataFrame =
    graft.operators.InvertedIndex.build(
        Tables.documents(s, dir), "doc_id", "text", headK = 8)
      .orderBy(col("token"))
  private val q138Sql =
    s"""WITH t AS (SELECT doc_id, unnest($dTokens) AS token FROM documents),
      |tf AS (SELECT token, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |h AS (SELECT token,
      |    array_to_string(list_sort(list(doc_id)), '_') AS posting_head
      |  FROM (SELECT token, doc_id,
      |          row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      |        FROM tf)
      |  WHERE rn <= 8 GROUP BY token)
      |SELECT tf.token, COUNT(*) AS df, CAST(SUM(tf.tf) AS BIGINT) AS cf,
      |  any_value(h.posting_head) AS posting_head
      |FROM tf JOIN h ON tf.token = h.token
      |GROUP BY tf.token ORDER BY tf.token""".stripMargin

  // ---------------------------------------------------------------
  // q139 — multi-term AND search over the corpus: docs containing ALL
  // of {spark, join, hash}, ranked by total term frequency — an EXACT
  // INTEGER score, so the ranking needs no idf floats and is
  // bit-reproducible in any engine; doc id tiebreak; top 20 via
  // TakeOrderedAndProject (no global sort).
  private def q139(s: SparkSession, dir: String): DataFrame =
    graft.operators.InvertedIndex.andSearch(
      Tables.documents(s, dir), "doc_id", "text",
      terms = Seq("spark", "join", "hash"), k = 20)
  private val q139Sql =
    s"""WITH t AS (SELECT doc_id, unnest($dTokens) AS token FROM documents)
      |SELECT doc_id, COUNT(*) AS score
      |FROM t WHERE token IN ('spark', 'join', 'hash')
      |GROUP BY doc_id HAVING COUNT(DISTINCT token) = 3
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q159 — q139 THROUGH THE PERSISTED POSTING STORE: two daily
  // batches (an even/odd doc_id split standing in for day 1 / day 2)
  // append their postings via the BatchStore stage-and-rename
  // commit, and the search runs over the store union — the index-
  // maintenance shape: corpus text is tokenized ONCE ever (per-batch
  // delta writes), not per query or per day. Ranking semantics are
  // identical to q139's scan path, so the oracle IS q139's SQL; the
  // term filter reaches the store's parquet scan as a pushed
  // In(token, …) predicate (PlanSpec) — a query reads its terms'
  // row groups, not the corpus.
  /** The posting-store gates' shared two-batch build: even ids as
    * batch 1, odd as batch 2 — INDEPENDENT appends (distinct batch
    * ids; postings + stats sidecar are both id-keyed staged commits),
    * so they overlap (guide §2.6, r19 — each append's shuffle tail
    * left the cores idle while the other waited). */
  private def writePostingHalves(docs: DataFrame, root: String): Unit =
    graft.operators.ParallelJobs.run(Seq(
      () => graft.operators.InvertedIndex.writePostingStore(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", root,
        batchId = 1L),
      () => graft.operators.InvertedIndex.writePostingStore(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", root,
        batchId = 2L)))

  private def q159(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q159_postings") { root =>
      writePostingHalves(docs, root)
      graft.operators.InvertedIndex.andSearchFromStore(
          graft.operators.BatchStore.read(s, root), "doc_id",
          terms = Seq("spark", "join", "hash"), k = 20)
        .transform(Checkpoints.pin)
    }
  }
  private val q159Sql = q139Sql

  // ---------------------------------------------------------------
  // q169 — q159 AFTER COMPACTION: the posting store's two daily
  // batches merged into one ([[graft.operators.InvertedIndex
  // .compactPostingStore]] — the signature-store protocol: stage,
  // re-validate the max-id invariant against racing appends, rename,
  // delete — applied to the postings AND the stats sidecar), then the
  // same pushed-filter search. Result must be IDENTICAL to the
  // pre-compaction union (q139's SQL again) — compaction is layout
  // maintenance, never semantics; 365 daily dirs become one without
  // the searcher noticing.
  private def q169(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q169_postings") { root =>
      writePostingHalves(docs, root)
      val replaced = graft.operators.InvertedIndex.compactPostingStore(
        s, root, newBatchId = 3L)
      require(replaced == 2, s"expected 2 batches replaced, got $replaced")
      graft.operators.InvertedIndex.andSearchFromStore(
          graft.operators.BatchStore.read(s, root), "doc_id",
          terms = Seq("spark", "join", "hash"), k = 20)
        .transform(Checkpoints.pin)
    }
  }
  private val q169Sql = q139Sql

  // ---------------------------------------------------------------
  // q177 — STREAMED POSTING-STORE MAINTENANCE: the q159/q161 store
  // maintained by a STREAMING job ([[graft.operators.InvertedIndex
  // .postingStoreSink]]) — the corpus staged as two parquet files,
  // delivered one per micro-batch through the checkpointed file
  // source, each epoch appending its postings + stats-sidecar batch
  // via the stage-and-rename commit. The sink is exactly-once under
  // epoch replay (fully-committed epochs no-op; the postings-but-
  // no-stats crash window heals — Round11Spec pins both), and the
  // served BM25 over the streamed store must equal the batch-built
  // store and the scan path exactly: the oracle is q161's (= q153's)
  // SQL verbatim. Search results are independent of how the source
  // chunked docs into epochs — union semantics, the q166 argument.
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withStreamedStore(s, "graft_q177",
      slices = Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1)),
      sink = store => graft.operators.InvertedIndex
        .postingStoreSink("doc_id", "text", store)) { store =>
      graft.operators.InvertedIndex.bm25SearchFromStore(
          s, store, "doc_id", q151Terms, k = 20)
        .transform(Checkpoints.pin)
    }
  }
  // lazy: bm25SqlFor reads q151Terms, which initializes LATER in this
  // object — an eager val here would NPE at class init
  private lazy val q177Sql = bm25SqlFor(
    "SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS total_len FROM t")

  // ---------------------------------------------------------------
  // q180 — DOCUMENT DELETES IN THE SERVED INDEX ([[graft.operators
  // .InvertedIndex.deleteFromPostingStore]] / [[InvertedIndex
  // .purgeTombstones]]): the takedown lifecycle end-to-end. Build the
  // q161 store, DELETE every doc_id % 7 == 3 (tombstone batch +
  // negative stats-sidecar row — the erasure is visible to the next
  // search without rewriting the store), serve BM25 (deleted docs
  // masked by the term-filtered anti-join; stats sum to exactly the
  // remaining corpus), then PURGE (physical rewrite dropping the
  // tombstoned rows, applied tombstones retired) and serve again.
  // The two servings must be IDENTICAL — pinned in-plan: any drift
  // between the masked view and the purged store fails the query.
  // Oracle: the q153 BM25 chain over documents WHERE doc_id % 7 <> 3,
  // stats CTE included — a tombstone that leaked into stats, a
  // negative row miscounted, or a purge that dropped a live row all
  // break the hash.
  private def q180(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q180_tomb") { root =>
      writePostingHalves(docs, root)
      graft.operators.InvertedIndex.deleteFromPostingStore(
        docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", root, batchId = 3L)
      val masked = graft.operators.InvertedIndex.bm25SearchFromStore(
          s, root, "doc_id", q151Terms, k = 20)
        .transform(Checkpoints.pin)
      graft.operators.InvertedIndex.purgeTombstones(
        s, root, "doc_id", newBatchId = 4L)
      val purged = graft.operators.InvertedIndex.bm25SearchFromStore(
          s, root, "doc_id", q151Terms, k = 20)
        .transform(Checkpoints.pin)
      StoreGates.compactionIdentityGate(masked, purged,
          "purge changed served BM25 results")
        .orderBy(desc("score"), col("doc_id"))
        .transform(Checkpoints.pin)
    }
  }
  private lazy val q180Sql = bm25SqlFor(
    "SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS total_len FROM t",
    where = " WHERE doc_id % 7 <> 3")

  // ---------------------------------------------------------------
  // q181 — BIGRAM-LM QUALITY SCORING ([[graft.operators
  // .LanguageModel]]): the KenLM-style perplexity-proxy filter —
  // train Laplace-smoothed bigram counts on the reference slice
  // (doc_id % 3 ≠ 0), score the candidate slice by average smoothed
  // bigram probability, flag the 20 LEAST probable docs. Fixed-point
  // contributions floor((c+1)·2³⁰/(cl+V)) summed as exact longs
  // (order-free); the ranking key is one double division. No log —
  // the BM25 transcendental rule. V = distinct continuation types,
  // so the whole model derives from the bigram-count frame alone.
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 3 =!= 0)
    val cand = docs.filter(col("doc_id") % 3 === 0)
    graft.operators.LanguageModel.bigramLmScore(cand,
      graft.operators.LanguageModel.bigramCounts(train, "doc_id", "text"),
      "doc_id", "text", k = 20)
  }
  /** The bigram-LM training CTEs over `documents WHERE trainWhere`:
    * tokens `tr`, bigrams `tbg`, counts `cb`, left counts `cl`. Opens
    * the WITH; unstripped. */
  private def lmTrainCtes(trainWhere: String): String =
    s"""WITH tr AS (SELECT doc_id, $dTokens AS toks FROM documents
      |  WHERE $trainWhere),
      |tb AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(toks) - 1),
      |    i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg FROM tr),
      |tbg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM tb),
      |cb AS (SELECT w1, w2, COUNT(*) AS cnt FROM tbg GROUP BY 1, 2),
      |cl AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS cl FROM cb GROUP BY 1),"""
  /** The candidate docs' (doc_id % 3 = 0) bigrams `cbg`; unstripped. */
  private lazy val lmCandCtes =
    s"""ca AS (SELECT doc_id, $dTokens AS toks FROM documents
      |  WHERE doc_id % 3 = 0),
      |cab AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(toks) - 1),
      |    i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg FROM ca),
      |cbg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM cab),"""
  /** q181's Laplace bigram-LM chain through the per-candidate `agg`
    * (doc_id, lm_fp, n_bigrams), with a pluggable TRAINING filter — the
    * erasure gate (q189) trains the oracle on the remaining corpus;
    * q211 ranks `agg` per source. Opens the WITH; unstripped. */
  private[queries] def laplaceAggCtes(trainWhere: String): String =
    s"""${lmTrainCtes(trainWhere)}
      |v AS (SELECT COUNT(DISTINCT w2) AS v FROM cb),
      |$lmCandCtes
      |sc AS (SELECT c.doc_id,
      |    CAST(floor(CAST(COALESCE(cb.cnt, 0) + 1 AS DOUBLE) * 1073741824.0
      |      / (COALESCE(cl.cl, 0) + v.v)) AS BIGINT) AS contrib
      |  FROM cbg c
      |  LEFT JOIN cb ON c.w1 = cb.w1 AND c.w2 = cb.w2
      |  LEFT JOIN cl ON c.w1 = cl.w1
      |  CROSS JOIN v),
      |agg AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS lm_fp,
      |    COUNT(*) AS n_bigrams
      |  FROM sc GROUP BY 1)"""
  /** q181's oracle: the 20 lowest-scoring candidates. */
  private def lmSqlFor(trainWhere: String): String =
    s"""${laplaceAggCtes(trainWhere)}
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, lm_fp,
      |  CAST(lm_fp AS DOUBLE) / n_bigrams AS lm_avg
      |FROM agg ORDER BY lm_avg, doc_id LIMIT 20""".stripMargin
  private val lmSql: String = lmSqlFor("doc_id % 3 <> 0")
  private val q181Sql = lmSql

  // ---------------------------------------------------------------
  // q182 — THE LM AS A MAINTAINED STORE ([[graft.operators
  // .LanguageModel.writeLmStore]] / [[LanguageModel
  // .bigramLmScoreFromStore]]): bigram counts are mergeable by SUM,
  // so the model is a BatchStore of per-slice count deltas — two
  // training slices append independently, compaction folds the dirs,
  // and serving re-merges counts in one vocab-keyed aggregate before
  // the identical scoring. The oracle is q181's SQL verbatim: the
  // stored, compacted, re-merged model must score bit-identically to
  // single-shot training on the concatenated slices.
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q182_lm") { root =>
      // independent appends (distinct batch ids) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => graft.operators.LanguageModel.writeLmStore(
          docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", root,
          batchId = 1L),
        () => graft.operators.LanguageModel.writeLmStore(
          docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", root,
          batchId = 2L)))
      graft.operators.BatchStore.compact(s, root, newBatchId = 3L)
      graft.operators.LanguageModel.bigramLmScoreFromStore(
          s, root, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 20)
        .transform(Checkpoints.pin)
    }
  }
  private val q182Sql = lmSql

  // ---------------------------------------------------------------
  // q183 — STREAMED DECONTAMINATION ([[graft.operators.Decontaminate
  // .contaminationSink]]): q60's n-gram flagging run at INGEST — the
  // training corpus staged as two parquet files, delivered one per
  // micro-batch through the checkpointed file source, each epoch
  // flagged against the static broadcast eval set and committed via
  // the stage-and-rename protocol (exactly-once: one dir per epoch,
  // committed epochs no-op on replay — Round11Spec pins both the
  // replay and chunking-independence). The per-lang rollup over the
  // streamed store must equal the batch flagger exactly: the oracle
  // is q60's SQL verbatim.
  private def q183(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val evalSet = docs.filter(col("doc_id") % 97 === 3)
    val train = docs.filter(col("doc_id") % 97 =!= 3)
    StoreGates.withStreamedStore(s, "graft_q183",
      slices = Seq(train.filter(col("doc_id") % 2 === 0),
        train.filter(col("doc_id") % 2 === 1)),
      sink = store => Decontaminate.contaminationSink(
        evalSet, "doc_id", "text", n = 3, store, keep = Seq("doc_id", "lang"))) { store =>
      graft.operators.BatchStore.read(s, store)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("is_contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
        .orderBy(col("lang"))
        .transform(Checkpoints.pin)
    }
  }
  // lazy: q60Sql initializes later in this object (the q177 rule)
  private lazy val q183Sql = q60Sql

  // ---------------------------------------------------------------
  // q184 — STUPID-BACKOFF LM SCORING ([[graft.operators.LanguageModel
  // .stupidBackoffScore]]; Brants et al. 2007): q181's split and
  // fixed-point discipline, smoothed the way web-scale count LMs
  // actually serve — seen bigrams score the MLE c/cl, unseen ones
  // back off to 0.4·(continuation count)/N, never-seen continuations
  // score zero. Fixes the Laplace artifact q181 documents (noise
  // outscoring shuffled in-domain tokens); LanguageModelSpec pins the
  // full ordering. The 20 LOWEST-scoring candidate docs.
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 3 =!= 0)
    val cand = docs.filter(col("doc_id") % 3 === 0)
    graft.operators.LanguageModel.stupidBackoffScore(cand,
      graft.operators.LanguageModel.bigramCounts(train, "doc_id", "text"),
      "doc_id", "text", k = 20)
  }
  /** q184's stupid-backoff chain with a pluggable training filter —
    * q190 serves the same scorer from an appended-minus-erased store,
    * so its oracle trains on the remaining slices. */
  private def backoffSqlFor(trainWhere: String): String =
    s"""${lmTrainCtes(trainWhere)}
      |cr AS (SELECT w2, CAST(SUM(cnt) AS BIGINT) AS cr FROM cb GROUP BY 1),
      |nb AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nb FROM cb),
      |$lmCandCtes
      |sc AS (SELECT c.doc_id,
      |    CAST(floor(CASE WHEN cb.cnt IS NOT NULL
      |      THEN CAST(cb.cnt AS DOUBLE) * 1073741824.0 / cl.cl
      |      ELSE 0.4 * (CAST(COALESCE(cr.cr, 0) AS DOUBLE) * 1073741824.0
      |        / nb.nb)
      |    END) AS BIGINT) AS contrib
      |  FROM cbg c
      |  LEFT JOIN cb ON c.w1 = cb.w1 AND c.w2 = cb.w2
      |  LEFT JOIN cl ON c.w1 = cl.w1
      |  LEFT JOIN cr ON c.w2 = cr.w2
      |  CROSS JOIN nb),
      |agg AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS sb_fp,
      |    COUNT(*) AS n_bigrams
      |  FROM sc GROUP BY 1)
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, sb_fp,
      |  CAST(sb_fp AS DOUBLE) / n_bigrams AS sb_avg
      |FROM agg ORDER BY sb_avg, doc_id LIMIT 20""".stripMargin
  private val q184Sql = backoffSqlFor("doc_id % 3 <> 0")

  // ---------------------------------------------------------------
  // q185 — TRAINED LANGUAGE ID ([[graft.operators.LanguageModel
  // .classifyLangByTrigrams]]): the statistical upgrade of q27's
  // stopword heuristic — per-class char-trigram counts trained on the
  // labeled split (doc_id % 5 ≠ 0), held-out docs (doc_id % 5 = 0)
  // classified by exact-integer argmax of the Laplace fixed-point
  // class score (no float ranking anywhere: contributions are longs,
  // ties break on lang ascending). Scoring never explodes candidates
  // × classes: the unseen-trigram term is a per-class constant, so
  // the only corpus exchange is the candidate-trigrams ⋈ counts join.
  // Output is the confusion matrix (lang, lang_pred, n_docs). NOTE:
  // the synthetic corpus's lang label is INDEPENDENT of its text
  // (every lang carries the same token soup), so the matrix here is
  // near-uniform by construction — this gate pins the exact scoring
  // arithmetic; the DISCRIMINATION property is pinned in
  // LanguageModelSpec on a fixture whose classes actually differ.
  private def q185(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val cand = docs.filter(col("doc_id") % 5 === 0)
    val counts = graft.operators.LanguageModel
      .langTrigramCounts(train, "lang", "text")
    graft.operators.LanguageModel
      .classifyLangByTrigrams(cand, counts, "doc_id", "text")
      .join(cand.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_pred"))
  }
  /** q185's trained-lang-id chain with a pluggable training filter —
    * q191 serves from an appended-minus-erased (lang, tri) count
    * store, so its oracle trains on the remaining labeled slices. */
  private def langidSqlFor(trainWhere: String): String =
    s"""WITH tr AS (SELECT lang, text FROM documents
      |  WHERE ($trainWhere) AND length(text) >= 3),
      |ttr AS (SELECT lang, unnest(list_transform(
      |    generate_series(1, length(text) - 2),
      |    i -> substr(text, i, 3))) AS tri FROM tr),
      |cb AS (SELECT lang, tri, COUNT(*) AS cnt FROM ttr GROUP BY 1, 2),
      |cl AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS cl FROM cb GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT tri) AS v FROM cb),
      |cls AS (SELECT lang, cl, v.v AS v,
      |    CAST(floor(CAST(1 AS DOUBLE) * 1073741824.0 / (cl + v.v))
      |      AS BIGINT) AS floor0
      |  FROM cl CROSS JOIN v),
      |ca AS (SELECT doc_id, lang, text FROM documents
      |  WHERE doc_id % 5 = 0 AND length(text) >= 3),
      |tca AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, length(text) - 2),
      |    i -> substr(text, i, 3))) AS tri FROM ca),
      |nt AS (SELECT doc_id, COUNT(*) AS n_tri FROM tca GROUP BY 1),
      |seen AS (SELECT t.doc_id, cb.lang,
      |    CAST(SUM(CAST(floor(CAST(cb.cnt + 1 AS DOUBLE) * 1073741824.0
      |      / (cls.cl + cls.v)) AS BIGINT)) AS BIGINT) AS seen_fp,
      |    COUNT(*) AS n_seen
      |  FROM tca t
      |  JOIN cb ON t.tri = cb.tri
      |  JOIN cls ON cb.lang = cls.lang
      |  GROUP BY 1, 2),
      |sc AS (SELECT nt.doc_id, cls.lang,
      |    COALESCE(seen.seen_fp, 0)
      |      + (nt.n_tri - COALESCE(seen.n_seen, 0)) * cls.floor0 AS score_fp
      |  FROM nt CROSS JOIN cls
      |  LEFT JOIN seen ON seen.doc_id = nt.doc_id AND seen.lang = cls.lang),
      |pred AS (SELECT doc_id, lang AS lang_pred FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score_fp DESC, lang) AS rn
      |  FROM sc) WHERE rn = 1)
      |SELECT ca.lang, pred.lang_pred, COUNT(*) AS n_docs
      |FROM pred JOIN ca ON pred.doc_id = ca.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  private val q185Sql = langidSqlFor("doc_id % 5 <> 0")

  /** q189/q190 shared fixture: the appended-minus-erased LM store —
    * two training-slice appends (doc_id % 3 = 1, then % 3 = 2) and
    * one negated-delta erasure of the % 3 = 1 AND % 5 = 0 sub-slice.
    * Remaining corpus is exactly the `lmSqlFor`/`backoffSqlFor`
    * oracle filter `doc_id % 3 <> 0 AND NOT (doc_id % 3 = 1 AND
    * doc_id % 5 = 0)`. */
  private def buildErasedLmStore(docs: DataFrame, root: String): Unit = {
    val LM = graft.operators.LanguageModel
    // independent appends (distinct batch ids) — overlap (guide §2.6)
    graft.operators.ParallelJobs.run(Seq(
      () => LM.writeLmStore(docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", root, batchId = 1L),
      () => LM.writeLmStore(docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", root, batchId = 2L)))
    LM.deleteFromLmStore(
      docs.filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 === 0),
      "doc_id", "text", root, batchId = 3L)
  }
  private val erasedLmFilter =
    "doc_id % 3 <> 0 AND NOT (doc_id % 3 = 1 AND doc_id % 5 = 0)"

  // ---------------------------------------------------------------
  // q189 — ERASURE IN THE LM STORE ([[graft.operators.LanguageModel
  // .deleteFromLmStore]] / [[LanguageModel.compactLmStore]]): the
  // q180/q188 takedown lifecycle on the one served store whose rows
  // are AGGREGATES, not documents — there is no per-doc row to
  // tombstone, but counts merge by SUM, so erasure is an append of
  // the erased docs' bigram counts NEGATED. Append two training
  // slices, erase a sub-slice of batch 1 (doc_id % 3 = 1 AND
  // doc_id % 5 = 0), serve q181's scoring from the store (the
  // negatives net out in the one keyed re-aggregate — no retraining,
  // no store rewrite), COMPACT (negatives folded away physically,
  // net-zero keys dropped), serve again — identical in-plan (the
  // q180 equality-gate discipline). Oracle: q181's chain trained on
  // the remaining corpus — a negative delta that leaked into V, a
  // zero-count key still counted as vocabulary, or a compaction that
  // dropped a live key all break the hash.
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val LM = graft.operators.LanguageModel
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q189_lm") { root =>
      buildErasedLmStore(docs, root)
      val cand = docs.filter(col("doc_id") % 3 === 0)
      val masked = LM.bigramLmScoreFromStore(s, root, cand, "doc_id", "text", k = 20)
      LM.compactLmStore(s, root, newBatchId = 4L)
      val compacted = LM.bigramLmScoreFromStore(s, root, cand, "doc_id", "text", k = 20)
      StoreGates.compactionIdentityGate(masked, compacted,
          "LM-store compaction changed served scoring")
        .orderBy(col("lm_avg"), col("doc_id"))
        .transform(Checkpoints.pin)
    }
  }
  private val q189Sql = lmSqlFor(erasedLmFilter)

  // ---------------------------------------------------------------
  // q190 — STUPID BACKOFF SERVED FROM THE ERASED STORE ([[graft
  // .operators.LanguageModel.stupidBackoffScoreFromStore]]): the
  // SAME bigram-count store serves both smoothing modes (everything
  // each scorer needs derives from the counts), so q189's
  // append-erase-compact store must feed q184's backoff scoring with
  // no retraining either. Build the q189 store (two appends, one
  // negated erasure delta, compacted), serve the backoff scorer from
  // it; the oracle is q184's chain trained on the remaining corpus —
  // gating BOTH the FromStore identity (q182's discipline) and the
  // erasure netting through the second read path.
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val LM = graft.operators.LanguageModel
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q190_lm") { root =>
      buildErasedLmStore(docs, root)
      LM.compactLmStore(s, root, newBatchId = 4L)
      LM.stupidBackoffScoreFromStore(s, root,
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 20)
    }
  }
  private val q190Sql = backoffSqlFor(erasedLmFilter)

  // ---------------------------------------------------------------
  // q191 — ERASURE IN THE LANG-ID STORE ([[graft.operators
  // .LanguageModel.writeLangIdStore]] / [[LanguageModel
  // .deleteFromLangIdStore]] / [[LanguageModel
  // .classifyLangByTrigramsFromStore]]): the q189 lifecycle on the
  // (lang, tri)-keyed class-conditional counts — labeled slices
  // append in two batches, every doc_id % 7 = 0 training doc is
  // erased by its negated per-class trigram counts, the held-out
  // split is classified from the masked store (exact-integer argmax
  // unchanged), then the store compacts and classifies again —
  // identical in-plan. Output is q185's confusion matrix; the oracle
  // trains on the remaining labeled slices (% 5 <> 0 AND % 7 <> 0) —
  // an erased doc still contributing trigram mass, or a net-zero
  // (lang, tri) key still counted toward V, breaks the hash.
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val LM = graft.operators.LanguageModel
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    StoreGates.withTempStore(s, "graft_q191_lid") { root =>
      // independent appends (distinct batch ids) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => LM.writeLangIdStore(train.filter(col("doc_id") % 2 === 0),
          "lang", "text", root, batchId = 1L),
        () => LM.writeLangIdStore(train.filter(col("doc_id") % 2 === 1),
          "lang", "text", root, batchId = 2L)))
      LM.deleteFromLangIdStore(train.filter(col("doc_id") % 7 === 0),
        "lang", "text", root, batchId = 3L)
      val cand = docs.filter(col("doc_id") % 5 === 0)
      val masked = LM.classifyLangByTrigramsFromStore(s, root, cand, "doc_id", "text")
      LM.compactLangIdStore(s, root, newBatchId = 4L)
      val compacted = LM.classifyLangByTrigramsFromStore(s, root, cand, "doc_id", "text")
      StoreGates.compactionIdentityGate(masked, compacted,
          "lang-id store compaction changed served classification")
        .join(cand.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("lang_pred"))
        .transform(Checkpoints.pin)
    }
  }
  private val q191Sql = langidSqlFor("doc_id % 5 <> 0 AND doc_id % 7 <> 0")

  // ---------------------------------------------------------------
  // q192 — TRIGRAM STUPID BACKOFF ([[graft.operators.LanguageModel
  // .trigramBackoffScore]]): the Brants et al. recursive chain
  // completed at n=3 — seen trigram scores the MLE c(w1w2w3)/c(w1w2),
  // unseen trigram backs off to 0.4·c(w2w3)/c(w2·), both-unseen to
  // 0.4²·c(·w3)/N — q181's split, the 20 lowest-scoring candidates.
  // Pure count arithmetic end-to-end: per-trigram floor(2³⁰·S) longs
  // (order-free exact sum), one double division as the ranking key;
  // the oracle unrolls the full recursion as a three-way CASE over
  // the trigram and bigram count CTEs with the identical
  // parenthesization.
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val LM = graft.operators.LanguageModel
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 3 =!= 0)
    LM.trigramBackoffScore(docs.filter(col("doc_id") % 3 === 0),
      LM.trigramCounts(train, "doc_id", "text"),
      LM.bigramCounts(train, "doc_id", "text"),
      "doc_id", "text", k = 20)
  }
  private val q192Sql =
    s"""WITH tr AS (SELECT doc_id, $dTokens AS toks FROM documents
      |  WHERE doc_id % 3 <> 0),
      |tb AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(toks) - 1),
      |    i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg FROM tr),
      |cb AS (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS cnt
      |  FROM tb GROUP BY 1, 2),
      |tt AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(toks) - 2),
      |    i -> {'w1': toks[i], 'w2': toks[i + 1], 'w3': toks[i + 2]}))
      |    AS tg FROM tr),
      |cb3 AS (SELECT tg.w1 AS w1, tg.w2 AS w2, tg.w3 AS w3,
      |    COUNT(*) AS c123 FROM tt GROUP BY 1, 2, 3),
      |cl2 AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS cl2 FROM cb GROUP BY 1),
      |cr3 AS (SELECT w2, CAST(SUM(cnt) AS BIGINT) AS cr3 FROM cb GROUP BY 1),
      |nb AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nb FROM cb),
      |ca AS (SELECT doc_id, $dTokens AS toks FROM documents
      |  WHERE doc_id % 3 = 0),
      |ctg AS (SELECT doc_id, tg.w1 AS w1, tg.w2 AS w2, tg.w3 AS w3
      |  FROM (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(toks) - 2),
      |    i -> {'w1': toks[i], 'w2': toks[i + 1], 'w3': toks[i + 2]}))
      |    AS tg FROM ca)),
      |sc AS (SELECT c.doc_id,
      |    CAST(floor(CASE
      |      WHEN t3.c123 IS NOT NULL
      |        THEN CAST(t3.c123 AS DOUBLE) * 1073741824.0 / b12.cnt
      |      WHEN b23.cnt IS NOT NULL
      |        THEN 0.4 * (CAST(b23.cnt AS DOUBLE) * 1073741824.0 / cl2.cl2)
      |      ELSE 0.4 * (0.4 * (CAST(COALESCE(cr3.cr3, 0) AS DOUBLE)
      |        * 1073741824.0 / nb.nb))
      |    END) AS BIGINT) AS contrib
      |  FROM ctg c
      |  LEFT JOIN cb3 t3 ON c.w1 = t3.w1 AND c.w2 = t3.w2 AND c.w3 = t3.w3
      |  LEFT JOIN cb b12 ON c.w1 = b12.w1 AND c.w2 = b12.w2
      |  LEFT JOIN cb b23 ON c.w2 = b23.w1 AND c.w3 = b23.w2
      |  LEFT JOIN cl2 ON c.w2 = cl2.w1
      |  LEFT JOIN cr3 ON c.w3 = cr3.w2
      |  CROSS JOIN nb),
      |agg AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS sb3_fp,
      |    COUNT(*) AS n_trigrams
      |  FROM sc GROUP BY 1)
      |SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams, sb3_fp,
      |  CAST(sb3_fp AS DOUBLE) / n_trigrams AS sb3_avg
      |FROM agg ORDER BY sb3_avg, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q193 — MMR OVER LSH CANDIDATES ([[graft.operators.Similarity
  // .rpLshMmrTopK]]): the SERVING retrieval chain assembled — q172's
  // sign-bucket candidate generation (top-10 per eval query by exact
  // cosine, corpus signed map-side into a broadcast bucket join, no
  // corpus×queries product: PlanSpec pins the composition) feeding
  // q164's greedy diversity re-rank (5 picks, λ = 1/2). The q172
  // recall floor is CARRIED THROUGH: mean per-query recall@10 of the
  // LSH candidate set vs the brute-force top-10 is asserted in-plan
  // ≥ 0.5 on the returned selection — a silent recall collapse fails
  // the query. Oracle: the full LSH replay (md5 planes → buckets →
  // candidates → exact-cosine top-10) feeding the MMR recursion
  // unrolled (q164's CTEs), ties on the numeric nid in both engines.
  private final val Q193MeanRecallFloor = 0.5
  private def q193(s: SparkSession, dir: String): DataFrame = {
    val (chunks, queries) = chunkQueryEmb(s, dir)
    val corpus = chunks.select(
      (col("doc_id") * lit(1048576L) + col("chunk_id")).as("nid"),
      col("cemb").as("emb"))
    val qfr = queries.select(col("query_id").as("nid"), col("qemb").as("emb"))
    graft.operators.Similarity.rpLshMmrTopK(corpus, qfr, "nid", "emb",
        dim = 32, bits = Q172Bits, tables = Q172Tables, topN = 10, k = 5,
        lam = 0.5, meanRecallFloor = Q193MeanRecallFloor)
      .orderBy(col("query_id"), col("pick_rank"))
  }
  /** The LSH candidate chain shared by q172's oracle and
    * [[lshCand10Sql]]: tokens → chunks → chunk/query embeddings → md5
    * hyperplanes → sign buckets → `cand(query_id, nid)`. Opens the
    * WITH and ends with `cand`'s comma; UNSTRIPPED (its lines keep the
    * `|` margins) — the caller's stripMargin strips it. */
  private def lshCandSql: String = {
    val bits = Q172Bits
    val nPlanes = Q172Bits * Q172Tables
    s"""$passageChunksSql
      |ce AS (SELECT doc_id * 1048576 + chunk_id AS nid, ${dHashedEmb("ctoks", 32)} AS emb
      |  FROM ch),
      |cv AS (SELECT nid, emb FROM ce
      |  WHERE sqrt(list_inner_product(emb, emb)) > 0),
      |qe AS (SELECT doc_id AS query_id, ${dHashedEmb("toks", 32)} AS emb FROM t
      |       WHERE doc_id % 97 = 3),
      |qv AS (SELECT query_id, emb FROM qe
      |  WHERE sqrt(list_inner_product(emb, emb)) > 0),
      |planes AS (
      |  SELECT p, list_transform(range(0, 32), i ->
      |    CASE WHEN CAST('0x' || substr(md5('rp:' || p || ':' || i), 1, 15) AS BIGINT) % 2 = 0
      |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS coefs
      |  FROM range(0, $nPlanes) t(p)),
      |csig AS (
      |  SELECT v.nid, p // $bits AS rp_table,
      |    SUM(CASE WHEN list_inner_product(v.emb, pl.coefs) > 0
      |             THEN 1 << (p % $bits) ELSE 0 END) AS rp_bucket
      |  FROM cv v CROSS JOIN planes pl GROUP BY 1, 2),
      |qsig AS (
      |  SELECT q.query_id, p // $bits AS rp_table,
      |    SUM(CASE WHEN list_inner_product(q.emb, pl.coefs) > 0
      |             THEN 1 << (p % $bits) ELSE 0 END) AS rp_bucket
      |  FROM qv q CROSS JOIN planes pl GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT q.query_id, c.nid
      |  FROM qsig q JOIN csig c
      |    ON q.rp_table = c.rp_table AND q.rp_bucket = c.rp_bucket
      |  WHERE q.query_id <> c.nid),"""
  }
  /** Shared q193/q197 serving-front oracle prefix: the
    * [[lshCandSql]] candidates → exact-cosine top-10 per query, ending at
    * `cand10(query_id, cid, rel, emb, n)` — the full DuckDB replay of
    * [[graft.operators.Similarity.rpLshTopK]] over the q193 fixture.
    * The two consumers append different back stages (q193 the MMR
    * recursion, q197 the MaxSim chain). */
  private lazy val lshCand10Sql: String = {
    val relExpr = "list_inner_product(a.emb, b.emb) / " +
      "(sqrt(list_inner_product(a.emb, a.emb)) * " +
      "sqrt(list_inner_product(b.emb, b.emb)))"
    s"""$lshCandSql
      |lr AS (SELECT cand.query_id, cand.nid, $relExpr AS rel, a.emb AS emb,
      |    row_number() OVER (PARTITION BY cand.query_id
      |      ORDER BY $relExpr DESC, cand.nid) AS rank
      |  FROM cand JOIN cv a ON a.nid = cand.nid
      |            JOIN qv b ON b.query_id = cand.query_id),
      |cand10 AS (SELECT query_id, nid AS cid, rel, emb,
      |    sqrt(list_inner_product(emb, emb)) AS n FROM lr WHERE rank <= 10)""".stripMargin
  }
  private lazy val q193Sql =
    s"""$lshCand10Sql,
      |s AS (SELECT a.query_id, a.cid AS cid_a, b.cid AS cid_b,
      |    list_inner_product(a.emb, b.emb) / (a.n * b.n) AS sim
      |  FROM cand10 a JOIN cand10 b
      |    ON a.query_id = b.query_id AND a.cid <> b.cid),
      |sel0 AS (SELECT query_id, cid, rel, 0.0 AS mmr, 0 AS pick_rank
      |  FROM cand10 WHERE FALSE),
      |${mmrStepsSql("cand10")}
      |SELECT query_id, pick_rank, cid AS neighbor_id, rel, mmr FROM sel5
      |ORDER BY query_id, pick_rank""".stripMargin

  // ---------------------------------------------------------------
  // q194 — STREAMED LM-STORE MAINTENANCE ([[graft.operators
  // .LanguageModel.lmStoreSink]]): the q177 discipline on the COUNT
  // store — the training corpus staged as two parquet files,
  // delivered one per micro-batch through the checkpointed file
  // source, each epoch appending its bigram-count delta via the
  // stage-and-rename commit. The sink is exactly-once under epoch
  // replay with NO heal window (single dir, no sidecar — left counts
  // and V derive from the counts themselves; LanguageModelSpec pins
  // the replay no-op), and served scoring must be independent of how
  // the source chunked the corpus into epochs: counts merge by SUM,
  // so the oracle is q181's chain trained single-shot on the full
  // corpus — verbatim.
  private def q194(s: SparkSession, dir: String): DataFrame = {
    val LM = graft.operators.LanguageModel
    val docs = Tables.documents(s, dir)
    StoreGates.withStreamedStore(s, "graft_q194",
      slices = Seq(docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)),
      sink = store => LM.lmStoreSink("doc_id", "text", store)) { store =>
      LM.bigramLmScoreFromStore(s, store,
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 20)
    }
  }
  private val q194Sql = lmSql

  // ---------------------------------------------------------------
  // q197 — LATE-INTERACTION RE-RANKING ([[graft.operators
  // .LateInteraction.maxSimRerank]]): the ColBERT MaxSim rule on the
  // q193 serving stack — the LSH bi-encoder front recalls 10
  // chunk candidates per eval query (q172's sign-bucket chain,
  // corpus never shuffles), then every survivor is RE-SCORED at
  // token level: Σ over the query's first 16 token positions of the
  // max cosine against the chunk's distinct tokens, token vectors
  // from the fastText-style char-trigram stub
  // ([[graft.operators.TextFunctions.tokenVector]], dim 16, each
  // distinct token embedded once). Fixed-point per-position
  // contributions (floor(2³⁰·maxcos) longs, exact sums, one double
  // division as the ranking key) make the full ranking hash-exact.
  // Oracle: the q193 LSH replay (shared prefix) feeding the MaxSim
  // chain — subword grams, slot folds, max, floor, and ranking all
  // regenerated in DuckDB.
  /** Shared q197/q198/q199 serving fixture: the q193 LSH candidate
    * front (10 chunk candidates per eval query) plus the TEXT frames
    * the late-interaction stage tokenizes — `(cands(query_id,
    * neighbor_id), qtext(query_id, text), passages(neighbor_id,
    * text))`. */
  private def maxSimFixture(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val (chunks, queries) = chunkQueryEmb(s, dir)
    val corpus = chunks.select(
      (col("doc_id") * lit(1048576L) + col("chunk_id")).as("nid"),
      col("cemb").as("emb"))
    val qfr = queries.select(col("query_id").as("nid"), col("qemb").as("emb"))
    val cands = graft.operators.Similarity.rpLshTopK(corpus, qfr, "nid", "emb",
        dim = 32, bits = Q172Bits, tables = Q172Tables, k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val passages = Chunking.chunkByTokens(
        docs.filter(col("doc_id") % 97 =!= 3), "doc_id", "text",
        chunkTokens = 64, strideTokens = 48)
      .select((col("doc_id") * lit(1048576L) + col("chunk_id")).as("neighbor_id"),
        col("chunk_text").as("text"))
    val qtext = docs.filter(col("doc_id") % 97 === 3)
      .select(col("doc_id").as("query_id"), col("text"))
    (cands, qtext, passages)
  }
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val (cands, qtext, passages) = maxSimFixture(s, dir)
    graft.operators.LateInteraction.maxSimRerank(cands, qtext, passages,
        "query_id", "neighbor_id", "text", dim = 16, maxQueryTokens = 16, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  /** The q197 MaxSim oracle with a pluggable passage-side mask —
    * q199's token-index erasure serves the SAME chain minus the
    * tombstoned passages (the mask applies on the index side, after
    * candidate generation, exactly as [[graft.operators
    * .LateInteraction.maxSimFromTokenIndex]] does). */
  private def maxSimSqlFor(dtWhere: String, int8: Boolean = false): String = {
    val w = s"(${dHash("'1:' || g")} % 2001 - 1000) / 1000.0"
    // int8: replay the symmetric absmax quantization — per-token
    // scale, floor(x·127/scale) codes widened to DOUBLE — before the
    // norm/cosine chain (q204; the float path keeps the raw fold)
    val vnCte = if (int8)
      s"""vs AS (SELECT tok, tv,
        |    list_max(list_transform(tv, x -> abs(x))) AS sc FROM vv),
        |vq AS (SELECT tok, list_transform(tv,
        |    x -> CAST(floor(x * 127.0 / sc) AS DOUBLE)) AS tv
        |  FROM vs WHERE sc > 0),
        |vn AS (SELECT tok, tv, sqrt(list_inner_product(tv, tv)) AS tn
        |  FROM vq)""".stripMargin
    else
      s"""vn AS (SELECT tok, tv, sqrt(list_inner_product(tv, tv)) AS tn FROM vv
        |  WHERE sqrt(list_inner_product(tv, tv)) > 0)""".stripMargin
    s"""$lshCand10Sql,
      |qt AS (SELECT query_id, p.p AS qpos, p.tk AS tok FROM (
      |  SELECT doc_id AS query_id, unnest(list_transform(
      |      generate_series(1, least(len(toks), 16)),
      |      i -> {'p': i, 'tk': toks[i]})) AS p
      |  FROM t WHERE doc_id % 97 = 3)),
      |dt AS (SELECT DISTINCT cd.cid, x.tok FROM
      |  (SELECT DISTINCT cid FROM cand10 WHERE $dtWhere) cd
      |  JOIN (SELECT doc_id * 1048576 + chunk_id AS nid, unnest(ctoks) AS tok
      |        FROM ch) x ON x.nid = cd.cid),
      |vt AS (SELECT tok FROM qt UNION SELECT tok FROM dt),
      |vg AS (SELECT tok, list_transform(
      |    generate_series(1, length('<' || tok || '>') - 2),
      |    i -> substr('<' || tok || '>', i, 3)) AS grams FROM vt),
      |vv AS (SELECT tok, list_transform(range(0, 16), d ->
      |    list_reduce(list_prepend(0.0, list_transform(grams, g ->
      |      CASE WHEN ${dHash("g")} % 16 = d THEN $w ELSE 0.0 END)),
      |      (a, b) -> a + b)) AS tv FROM vg),
      |$vnCte,
      |mx AS (SELECT cd.query_id, cd.cid, qt.qpos,
      |    MAX(list_inner_product(a.tv, b.tv) / (a.tn * b.tn)) AS mc
      |  FROM (SELECT DISTINCT query_id, cid FROM cand10) cd
      |  JOIN qt ON qt.query_id = cd.query_id
      |  JOIN vn a ON a.tok = qt.tok
      |  JOIN dt ON dt.cid = cd.cid
      |  JOIN vn b ON b.tok = dt.tok
      |  GROUP BY 1, 2, 3),
      |sc AS (SELECT query_id, cid,
      |    CAST(SUM(CAST(floor(mc * 1073741824.0) AS BIGINT)) AS BIGINT) AS ms_fp,
      |    COUNT(*) AS n_qtoks
      |  FROM mx GROUP BY 1, 2),
      |rk AS (SELECT query_id, cid, n_qtoks, ms_fp,
      |    CAST(ms_fp AS DOUBLE) / n_qtoks AS ms_avg,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(ms_fp AS DOUBLE) / n_qtoks DESC, cid) AS rank
      |  FROM sc)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, cid AS neighbor_id,
      |  CAST(n_qtoks AS BIGINT) AS n_qtoks, ms_fp, ms_avg
      |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }
  private lazy val q197Sql = maxSimSqlFor("TRUE")

  // ---------------------------------------------------------------
  // q198 — MAXSIM SERVED FROM THE PERSISTED TOKEN INDEX ([[graft
  // .operators.LateInteraction.writeTokenIndex]] /
  // [[LateInteraction.maxSimFromTokenIndex]]): the ColBERT index as
  // a [[graft.operators.BatchStore]] — per-passage distinct token
  // VECTORS precomputed at write time (two slice appends), so the
  // serve reads candidate-filtered vector rows and embeds only the
  // ephemeral queries; the q182/q161 FromStore discipline on the
  // late-interaction stack. Value-identical to q197's in-memory
  // chain over the same passages: the oracle is q197's verbatim.
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val LI = graft.operators.LateInteraction
    val (cands, qtext, passages) = maxSimFixture(s, dir)
    StoreGates.withTempStore(s, "graft_q198_ti") { root =>
      // r19: the two daily appends in ONE tokenize+embed pass with
      // overlapped commits (writeTokenIndexSlices — the per-slice
      // calls each re-chunked the whole corpus and re-embedded the
      // shared vocabulary; byte-identical store rows, Round19Spec)
      LI.writeTokenIndexSlices(passages, "neighbor_id", "text", dim = 16,
        root, Seq(1L -> (col("neighbor_id") % 2 === 0),
          2L -> (col("neighbor_id") % 2 === 1)))
      LI.maxSimFromTokenIndex(s, root, cands, qtext,
          "query_id", "neighbor_id", "text",
          dim = 16, maxQueryTokens = 16, k = 5)
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  private lazy val q198Sql = q197Sql

  // ---------------------------------------------------------------
  // q199 — TOKEN-INDEX ERASURE ([[graft.operators.LateInteraction
  // .deleteFromTokenIndex]] / [[LateInteraction.purgeTokenIndex]]):
  // the q180/q187 takedown lifecycle on the late-interaction index.
  // Build the q198 store, tombstone every passage with
  // neighbor_id % 13 = 5 (ids-only batch under `.tombstones`, the
  // shared [[graft.operators.Tombstones]] protocol), serve — the
  // erased passages vanish from the ranking and the survivors
  // re-rank (the mask applies AFTER the candidate filter, so its
  // left side is candidate-sized) — then PURGE (physical rewrite,
  // applied tombstones retired) and serve again, identical in-plan
  // (the q180 equality-gate discipline). Oracle: q197's chain with
  // the erased passages excluded on the index side.
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val LI = graft.operators.LateInteraction
    // cands feeds 2 serves — pinned once (tiny frame) so the LSH
    // front runs once, not per serve; passages stay lazy (measured:
    // materializing corpus chunk text costs more than re-chunking)
    val (cands0, qtext, passages) = maxSimFixture(s, dir)
    val cands = Checkpoints.pin(cands0)
    StoreGates.withTempStore(s, "graft_q199_ti") { root =>
      // r19: one tokenize+embed pass + overlapped commits (q198's
      // writeTokenIndexSlices note)
      LI.writeTokenIndexSlices(passages, "neighbor_id", "text", dim = 16,
        root, Seq(1L -> (col("neighbor_id") % 2 === 0),
          2L -> (col("neighbor_id") % 2 === 1)))
      LI.deleteFromTokenIndex(
        passages.filter(col("neighbor_id") % 13 === 5)
          .select(col("neighbor_id")),
        "neighbor_id", root, batchId = 3L)
      def serve() = LI.maxSimFromTokenIndex(s, root, cands, qtext,
        "query_id", "neighbor_id", "text",
        dim = 16, maxQueryTokens = 16, k = 5)
      val masked = serve()
      LI.purgeTokenIndex(s, root, "neighbor_id", newBatchId = 4L)
      val purged = serve()
      StoreGates.compactionIdentityGate(masked, purged,
          "token-index purge changed served ranking")
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  private lazy val q199Sql = maxSimSqlFor("cid % 13 <> 5")

  // ---------------------------------------------------------------
  // q204 — THE QUANTIZED TOKEN INDEX ([[graft.operators
  // .LateInteraction.writeTokenIndexInt8]] / [[LateInteraction
  // .maxSimFromTokenIndexInt8]]): the q198 store with the real
  // ColBERT storage answer — token vectors symmetrically
  // int8-quantized (per-vector absmax, the q135 discipline) and
  // persisted ONE BYTE per component via the native Int8Pack codec.
  // Measured honestly (SCALE.md "Quantized token index: measured
  // storage"; LateInteractionSpec pins int8 < float64): 1.4–1.6× smaller on
  // disk, NOT 4× — parquet dictionary pages already deduplicate the
  // repeated per-token vectors in both layouts, so the narrowing
  // shrinks only the dictionary; the raw-bytes 4×/9× shows up where
  // dictionaries don't apply (unique-vector columns, in-memory
  // serving buffers). Serving unpacks to exact ints and runs the identical
  // fixed-point MaxSim tail; per-vector scales cancel in the cosine
  // up to the floor error. Oracle: the q197 chain with the
  // quantization replayed in the vector CTE — a scale off-by-one, a
  // floor/round drift, or a byte that wrapped all break the hash.
  private def q204(s: SparkSession, dir: String): DataFrame = {
    val LI = graft.operators.LateInteraction
    val (cands, qtext, passages) = maxSimFixture(s, dir)
    StoreGates.withTempStore(s, "graft_q204_ti8") { root =>
      // r19: one tokenize+quantize pass + overlapped commits (q198's
      // writeTokenIndexSlices note, int8 twin)
      LI.writeTokenIndexInt8Slices(passages, "neighbor_id", "text",
        dim = 16, root, Seq(1L -> (col("neighbor_id") % 2 === 0),
          2L -> (col("neighbor_id") % 2 === 1)))
      LI.maxSimFromTokenIndexInt8(s, root, cands, qtext,
          "query_id", "neighbor_id", "text",
          dim = 16, maxQueryTokens = 16, k = 5)
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  private lazy val q204Sql = maxSimSqlFor("TRUE", int8 = true)

  // ---------------------------------------------------------------
  // q200 — STREAMED TOKEN-INDEX MAINTENANCE ([[graft.operators
  // .LateInteraction.tokenIndexSink]]): the q177/q194 exactly-once
  // foreachBatch discipline on the late-interaction vector store —
  // the passage corpus staged as two parquet files, delivered one
  // per micro-batch through the checkpointed file source, each epoch
  // appending its per-passage token vectors via the stage-and-rename
  // commit (single dir, replay no-ops; LateInteractionSpec pins it).
  // Served MaxSim over the streamed store must equal the batch-built
  // store and the in-memory chain exactly: the oracle is q197's SQL
  // verbatim.
  private def q200(s: SparkSession, dir: String): DataFrame = {
    val LI = graft.operators.LateInteraction
    val (cands, qtext, passages) = maxSimFixture(s, dir)
    StoreGates.withStreamedStore(s, "graft_q200",
      slices = Seq(passages.filter(col("neighbor_id") % 2 === 0),
        passages.filter(col("neighbor_id") % 2 === 1)),
      sink = store => LI.tokenIndexSink("neighbor_id", "text", dim = 16, store)
    ) { store =>
      LI.maxSimFromTokenIndex(s, store, cands, qtext,
          "query_id", "neighbor_id", "text",
          dim = 16, maxQueryTokens = 16, k = 5)
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  private lazy val q200Sql = q197Sql

  // ---------------------------------------------------------------
  // q174 — SHARDED FULL-POSTING EXPORT ([[graft.operators
  // .InvertedIndex.exportPostings]]): the whole posting list written
  // out, exchange keyed on (token, hash60(doc) mod 8) so no single
  // writer task owns a hot token's corpus-sized list (Round11Spec
  // pins the multi-file spread on disk). The gate reads the export
  // back and aggregates per-token df/cf plus the number of DISTINCT
  // doc-buckets the token's list actually spans — the oracle
  // recomputes all three from the raw corpus, including the bucket
  // arithmetic (md5-derived hash60 mod 8, regenerated in DuckDB), so
  // a sharding change that loses or duplicates postings, or shifts
  // the bucket function, breaks the hash. Top-20 by cf, token
  // tiebreak.
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q174_export") { root =>
      graft.operators.InvertedIndex.exportPostings(
        docs, "doc_id", "text", root, batchId = 1L, docBuckets = 8)
      graft.operators.BatchStore.read(s, root)
        .groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("df"),
          sum(col("tf")).cast("long").as("cf"),
          countDistinct(col("doc_bucket")).as("n_buckets"))
        .orderBy(desc("cf"), col("token"))
        .limit(20)
        .transform(Checkpoints.pin)
    }
  }
  private val q174Sql = {
    val bucket = s"${dHash("CAST(doc_id AS VARCHAR)")} % 8"
    s"""WITH tok AS (SELECT doc_id, unnest($dTokens) AS token FROM documents),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf, $bucket AS doc_bucket
      |  FROM tok GROUP BY doc_id, token)
      |SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
      |  COUNT(DISTINCT doc_bucket) AS n_buckets
      |FROM tf GROUP BY token ORDER BY cf DESC, token LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------
  // q160 — PASSAGE RETRIEVAL: the RAG-shape composition — chunk the
  // training corpus (q68's 64/48 windows), embed each chunk (q130's
  // hashEmbed stub, dim 32), retrieve the top-5 chunks per eval
  // query by cosine — the passage-level complement of q156's
  // doc-level decontamination (WHERE an eval item leaks, not just
  // whether). Chunk embeddings are localCheckpoint'd (encoder feeds
  // norm + every pair — the q130 barrier); queries broadcast (eval
  // sets are small constants); the per-query top-5 is a window rank
  // whose WindowGroupLimit partial runs map-side. Cosines are the
  // q130 fold spelling, ties broken (doc_id, chunk_id) — the whole
  // ranking hash-matches.
  /** Shared q160/q164/q172 embedding builder: the chunked corpus side
    * (localCheckpoint'd — the encoder feeds norms and every candidate
    * pair, the q130 barrier) and the eval-query side, both
    * zero-norm-filtered. */
  private def chunkQueryEmb(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val dim = 32
    def nrm(c: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(c, x => x * x), lit(0.0), (a, v) => a + v))
    val docs = Tables.documents(s, dir)
    val chunks = Chunking.chunkByTokens(docs.filter(col("doc_id") % 97 =!= 3),
        "doc_id", "text", chunkTokens = 64, strideTokens = 48)
      .select(col("doc_id"), col("chunk_id"),
        TextFunctions.hashEmbed(col("chunk_text"), dim).as("cemb"))
      .withColumn("cn", nrm(col("cemb"))).filter(col("cn") > 0)
      .transform(Checkpoints.pin)
    val queries = docs.filter(col("doc_id") % 97 === 3)
      .select(col("doc_id").as("query_id"),
        TextFunctions.hashEmbed(col("text"), dim).as("qemb"))
      .withColumn("qn", nrm(col("qemb"))).filter(col("qn") > 0)
    (chunks, queries)
  }

  /** Shared q160/q164 candidate builder: ranked chunk candidates per
    * eval query, embeddings kept for downstream re-ranking. */
  private def passageCands(s: SparkSession, dir: String, topN: Int): DataFrame = {
    val (chunks, queries) = chunkQueryEmb(s, dir)
    chunks.crossJoin(broadcast(queries))
      .withColumn("cosine",
        aggregate(zip_with(col("cemb"), col("qemb"), (x, y) => x * y),
          lit(0.0), (a, v) => a + v) / (col("cn") * col("qn")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("cosine"), col("doc_id"), col("chunk_id"))))
      .filter(col("rank") <= topN)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("chunk_id"), col("cosine"), col("cemb"))
  }
  private def q160(s: SparkSession, dir: String): DataFrame =
    passageCands(s, dir, topN = 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("chunk_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  private val q160Sql = {
    val dot = "list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 33), i -> c.emb[i] * q.emb[i])), (x, y) -> x + y)"
    s"""$passageNormsSql
      |p AS (SELECT q.query_id, c.doc_id, c.chunk_id,
      |    $dot / (c.n * q.n) AS cosine
      |  FROM cn c CROSS JOIN qn q WHERE c.n > 0 AND q.n > 0),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, doc_id, chunk_id) AS BIGINT) AS rank FROM p)
      |SELECT query_id, rank, doc_id, chunk_id, cosine
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // q172 — LSH-FRONTED PASSAGE RETRIEVAL: q131's sign-bucket
  // candidate generation wired in front of q160's exact-cosine
  // verify ([[graft.operators.Similarity.rpLshTopK]]) — the scale
  // path for the RAG candidate build, whose brute chunks×queries
  // product measured 8.0× at 10× data when both sides grow
  // (SCALE.md, q164). Chunks are signed map-side and bucket-joined
  // against the broadcast query signatures — the corpus never meets
  // the query set in a product (PlanSpec pins no cartesian join) —
  // then only colliding candidates pay the exact cosine. The gate is
  // q110-style retrieval quality IN-QUERY: recall@5 of the LSH path
  // vs the exact brute force per eval query, hash-gated (the oracle
  // replays the same planes/buckets from md5), with an in-plan
  // MEAN-recall floor — per-query recall is the honest LSH trade
  // (a query whose true neighbors sit at moderate cosine can miss
  // entirely: collision probability (1−θ/π)^bits per table), so the
  // floor binds the aggregate, measured across sf0.001/0.01/0.1.
  private final val Q172Bits = 12
  private final val Q172Tables = 8
  private final val Q172MeanRecallFloor = 0.5
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val (chunks, queries) = chunkQueryEmb(s, dir)
    val corpus = chunks.select(
      (col("doc_id") * lit(1048576L) + col("chunk_id")).as("nid"),
      col("cemb").as("emb"))
    val qfr = queries.select(col("query_id").as("nid"), col("qemb").as("emb"))
    val lsh = graft.operators.Similarity.rpLshTopK(corpus, qfr, "nid", "emb",
        dim = 32, bits = Q172Bits, tables = Q172Tables, k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val brute = graft.operators.Similarity
      .bruteForceTopK(corpus, qfr, "nid", "emb", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val per = brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(5.0))
      .transform(Checkpoints.pin) // feeds the mean aggregate AND the output rows
    val mean = per.agg(avg(col("recall")).as("__mean"))
    per.crossJoin(broadcast(mean))
      .filter(assert_true(col("__mean") >= Q172MeanRecallFloor,
        concat(lit(s"LSH retrieval mean recall@5 below floor $Q172MeanRecallFloor: "),
          col("__mean").cast("string"))).isNull)
      .select(col("query_id"), col("n_hits"), col("recall"))
      .orderBy(col("query_id"))
  }
  private val q172Sql = {
    def cos(a: String, b: String) =
      s"list_inner_product($a.emb, $b.emb) / (sqrt(list_inner_product($a.emb, $a.emb)) * sqrt(list_inner_product($b.emb, $b.emb)))"
    s"""$lshCandSql
      |lsh AS (SELECT query_id, nid FROM (
      |  SELECT cand.query_id, cand.nid,
      |    row_number() OVER (PARTITION BY cand.query_id
      |      ORDER BY ${cos("a", "b")} DESC, cand.nid) AS rank
      |  FROM cand JOIN cv a ON a.nid = cand.nid
      |            JOIN qv b ON b.query_id = cand.query_id)
      |  WHERE rank <= 5),
      |brute AS (SELECT query_id, nid FROM (
      |  SELECT q.query_id, c.nid,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY ${cos("c", "q")} DESC, c.nid) AS rank
      |  FROM cv c CROSS JOIN qv q WHERE c.nid <> q.query_id)
      |  WHERE rank <= 5)
      |SELECT b.query_id,
      |  CAST(SUM(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |  CAST(SUM(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5.0 AS recall
      |FROM brute b LEFT JOIN lsh l
      |  ON b.query_id = l.query_id AND b.nid = l.nid
      |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q162 — SPLIT-LEAKAGE AUDIT: the measured proof behind q125's
  // "leakage-safe" claim. Both splitters use the SAME hash splitter
  // (Sampling.groupSplit, 5/5/90) — one keyed on the near-dup
  // CLUSTER, one keyed on the raw doc_id (the naive row split every
  // pipeline starts with) — and the audit counts near-dup pairs
  // whose two ends land in different splits. The cluster split MUST
  // be zero (in-plan assert fails the query otherwise: the q125
  // guarantee as an executable invariant); the row split leaks a
  // nonzero fraction at every tested scale, which is the number that
  // justifies paying for the clustering. The pair frame is
  // localCheckpoint'd — it feeds the components AND both audit joins.
  private def q162(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 16, shingleN = 3, bands = 8, threshold = 0.5)
      .select(col("id_a"), col("id_b")).transform(Checkpoints.pin)
    val comp = Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    val labeled = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("component"), col("doc_id")))
    val weights = Seq(("val", 5), ("test", 10), ("train", 100))
    val bySafe = Sampling.groupSplit(labeled, col("grp"), weights)
      .select(col("doc_id"), col("split"))
    val byRow = Sampling.groupSplit(docs.select(col("doc_id")), col("doc_id"), weights)
      .select(col("doc_id"), col("split"))
    def audit(assign: DataFrame, method: String): DataFrame =
      pairs
        .join(assign.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(assign.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("n_cross"))
        .select(lit(method).as("method"), col("n_pairs"), col("n_cross"))
    val safe = audit(bySafe, "cluster")
      .filter(assert_true(col("n_cross") === 0,
        lit("cluster split leaked a near-dup pair across the cut")).isNull)
    safe.unionByName(audit(byRow, "row_hash")).orderBy(col("method"))
  }
  private val q162Sql = {
    val hGrp = dHash("CAST(grp AS VARCHAR)")
    val hDoc = dHash("CAST(doc_id AS VARCHAR)")
    def splitCase(h: String) =
      s"""CASE WHEN $h % 100 < 5 THEN 'val'
         |         WHEN $h % 100 < 10 THEN 'test'
         |         ELSE 'train' END AS split""".stripMargin
    def auditSel(tag: String, a: String) =
      s"""SELECT '$tag' AS method, COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
         |FROM pairs p JOIN $a a ON p.id_a = a.doc_id
         |             JOIN $a b ON p.id_b = b.doc_id""".stripMargin
    s"""WITH RECURSIVE ${dLshCtes("documents")},
      |pairs0 AS ($dLshPairsSelect),
      |pairs AS (SELECT id_a, id_b FROM pairs0),
      |$dCcCtes,
      |labeled AS (
      |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS grp
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
      |safe AS (SELECT doc_id, ${splitCase(hGrp)} FROM labeled),
      |naive AS (SELECT doc_id, ${splitCase(hDoc)} FROM documents)
      |SELECT * FROM (
      |${auditSel("cluster", "safe")}
      |UNION ALL
      |${auditSel("row_hash", "naive")})
      |ORDER BY method""".stripMargin
  }

  // ---------------------------------------------------------------
  // q163 — JSONL ROUND-TRIP: the interchange format LLM corpora
  // actually ship in, gated end-to-end — documents → JSON-lines sink
  // → schema'd JSON source → per-language rollup, compared against
  // the parquet truth (the oracle aggregates the parquet table
  // directly, so any escaping/encoding loss in either direction
  // breaks the hash; multi-byte text and embedded quotes ride the
  // zh/es rows). Read side is explicit-schema (no sampling
  // inference pass — at 100 TB, schema inference is a full extra
  // scan) with the default PERMISSIVE corrupt handling. Sink
  // staging is a temp dir, deleted after the checkpoint.
  private def q163(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q163_jsonl") { tmp =>
      docs.write.mode("overwrite").json(tmp)
      langTextStats(s.read.schema(docs.schema).json(tmp))
    }
  }
  /** q163/q168's round-trip check: per-language doc count, summed
    * `n_chars` and text length of a re-read corpus, pinned so the temp
    * store can go. */
  private def langTextStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(length(col("text")).cast("long")).as("text_chars"))
      .orderBy(col("lang"))
      .transform(Checkpoints.pin)
  private val q163Sql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  CAST(SUM(len(text)) AS BIGINT) AS text_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q164 — MMR DIVERSITY RE-RANKING ([[graft.operators.Similarity
  // .mmrRerank]]): q160's top-10 candidates per eval query, greedily
  // re-picked 5 deep by λ·rel − (1−λ)·max-sim-to-selected (λ = 1/2,
  // binary-exact) — the diversity pass a RAG retriever runs after
  // top-N similarity, so near-dup passages about one aspect stop
  // crowding out every other aspect. Every stage is candidate-sized
  // (the corpus never appears past the shared candidate build); the
  // 5 greedy steps unroll into CTEs in the oracle with the same
  // empty-selected-max = 0 convention, so the whole trajectory —
  // scores, tie-breaks, pick order — hash-matches.
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val cand = passageCands(s, dir, topN = 10)
      .select(col("query_id"),
        concat_ws(":", col("doc_id"), col("chunk_id")).as("cid"),
        col("cosine").as("rel"), col("cemb"))
    graft.operators.Similarity.mmrRerank(cand, "query_id", "cid", "rel", "cemb",
        k = 5, lam = 0.5)
      .orderBy(col("query_id"), col("pick_rank"))
  }
  private val q164Sql = {
    def dotp(x: String, y: String) = "list_reduce(list_prepend(0.0, " +
      s"list_transform(range(1, 33), i -> $x[i] * $y[i])), (p, q) -> p + q)"
    s"""$passageNormsSql
      |pp AS (SELECT q.query_id, c.doc_id, c.chunk_id, c.emb, c.n,
      |    ${dotp("c.emb", "q.emb")} / (c.n * q.n) AS cosine
      |  FROM cn c CROSS JOIN qn q WHERE c.n > 0 AND q.n > 0),
      |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, doc_id, chunk_id) AS rank FROM pp),
      |cand AS (SELECT query_id, doc_id || ':' || chunk_id AS cid,
      |    cosine AS rel, emb, n FROM rr WHERE rank <= 10),
      |s AS (SELECT a.query_id, a.cid AS cid_a, b.cid AS cid_b,
      |    ${dotp("a.emb", "b.emb")} / (a.n * b.n) AS sim
      |  FROM cand a JOIN cand b
      |    ON a.query_id = b.query_id AND a.cid <> b.cid),
      |sel0 AS (SELECT query_id, cid, rel, 0.0 AS mmr, 0 AS pick_rank
      |  FROM cand WHERE FALSE),
      |${mmrStepsSql("cand")}
      |SELECT query_id, pick_rank, cid, rel, mmr FROM sel5
      |ORDER BY query_id, pick_rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // q166 — STREAMED JSONL INGEST: q163's interchange format through
  // the file-source STREAM — documents staged as 3 JSON-lines files,
  // consumed one file per micro-batch with an explicit schema (no
  // inference pass), complete-mode per-language rollup into a memory
  // sink, gated against the parquet truth. The landing-zone shape of
  // a production corpus intake: files arrive, the running rollup
  // stays current, and aggregation-over-union associativity makes
  // the final state chunking-independent — which is exactly what the
  // batch oracle checks.
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q166_jsonl") { tmp =>
      docs.repartition(3).write.mode("overwrite").json(tmp)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").json(tmp)
      val agg = stream.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val sink = "q166_" + java.util.UUID.randomUUID().toString.take(8)
      WindowQueries.withShufflePartitions(s, "4") {
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      val out = s.table(sink).orderBy(col("lang")).transform(Checkpoints.pin)
      // the checkpoint owns the rows now — drop the memory-sink temp
      // view, or each bench invocation (3 runs/query) leaves a cached
      // result table registered for the session's lifetime
      s.catalog.dropTempView(sink)
      out
    }
  }
  private val q166Sql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q168 — ORC ROUND-TRIP: q163's gate for the OTHER columnar format
  // Spark ships natively (warehouse interchange with Hive-lineage
  // stacks) — documents → ORC sink → ORC scan → per-language rollup
  // against the parquet truth. Exercises the native vectorized ORC
  // reader end-to-end including multi-byte text; DuckDB cannot read
  // ORC, so the oracle aggregates the parquet table directly — any
  // encoding/values loss in the round-trip breaks the hash.
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q168_orc") { tmp =>
      docs.write.mode("overwrite").orc(tmp)
      langTextStats(s.read.orc(tmp))
    }
  }
  private val q168Sql = q163Sql

  // ---------------------------------------------------------------
  // q151 — idf-weighted RANKED retrieval: q139's term set, re-ranked
  // by length-normalized tf·idf ([[graft.operators.InvertedIndex
  // .rankedSearch]]). q139's raw-tf score is dominated by long
  // documents; here each term contributes the exact rational
  // tf·n_docs/df (linear idf, no log — the q69 discipline) and the
  // plan-time left-to-right sum divides by the doc's token count, so
  // the float scores are bit-reproducible and the whole ranking
  // hash-matches the oracle. Top 20 via TakeOrderedAndProject
  // (PlanSpec-pinned).
  private val q151Terms = Seq("spark", "join", "hash")
  private def q151(s: SparkSession, dir: String): DataFrame =
    graft.operators.InvertedIndex.rankedSearch(
      Tables.documents(s, dir), "doc_id", "text", q151Terms, k = 20)
  /** q151's terms as an SQL IN list. */
  private lazy val q151InList = q151Terms.map(t => s"'$t'").mkString(", ")
  /** One `c<i>` score cell per q151 term, from per-(doc, token)
    * `contrib` rows. */
  private lazy val q151Cells = q151Terms.zipWithIndex.map { case (t, i) =>
    s"MAX(CASE WHEN token = '$t' THEN contrib END) AS c$i" }.mkString(",\n    ")
  /** The cells' left-to-right + chain, mirroring the Scala reduce. */
  private lazy val q151SumExpr =
    q151Terms.indices.map(i => s"c$i").reduce((a, b) => s"($a + $b)")
  /** One term's BM25 contribution; the parenthesization mirrors the
    * Column tree of bm25Search exactly. */
  private lazy val bm25ContribSql = "(((n_docs - df) + 0.5) / (df + 0.5)) * " +
    "((CAST(tf AS DOUBLE) * 2.25) / (tf + 1.25 * (0.25 + 0.75 * " +
    "(CAST(doc_len AS DOUBLE) / (CAST(total_len AS DOUBLE) / n_docs)))))"
  private lazy val q151Sql =
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |base AS (SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS token FROM t),
      |tf AS (SELECT doc_id, doc_len, token, COUNT(*) AS tf FROM base
      |  WHERE token IN ($q151InList) GROUP BY 1, 2, 3),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |c AS (SELECT doc_id, doc_len, token,
      |    CAST(tf AS DOUBLE) * n_docs / df AS contrib
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
      |p AS (SELECT doc_id, doc_len, COUNT(*) AS n_terms,
      |    $q151Cells
      |  FROM c GROUP BY 1, 2)
      |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len,
      |  $q151SumExpr / doc_len AS score
      |FROM p WHERE n_terms = ${q151Terms.size}
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q153 — BM25-shaped ranking ([[graft.operators.InvertedIndex
  // .bm25Search]]): q151's term set and plan shape, scored with
  // tf SATURATION (tf·2.25/(tf + 1.25·norm) — the 50th occurrence
  // adds almost nothing, where q151's raw tf keeps counting) and
  // PIVOTED length normalization (norm = 0.25 + 0.75·dl/avgdl —
  // penalizes only longer-than-average docs, where q151's 1/dl
  // overrewards snippets). Log-free idf (exact rational
  // (N−df+0.5)/(df+0.5) — a transcendental ln() can differ in the
  // last ulp across engines); k1 = 5/4 and b = 3/4 are binary-exact,
  // so every float in the score is a fixed parenthesization of exact
  // inputs and the ranking hash-matches. One extra 1-row broadcast
  // aggregate (N, Σdl) over q151's plan.
  private def q153(s: SparkSession, dir: String): DataFrame =
    graft.operators.InvertedIndex.bm25Search(
      Tables.documents(s, dir), "doc_id", "text", q151Terms, k = 20)
  /** Shared BM25 oracle body, parameterized by the corpus-stats CTE.
    * Since round 11 both the scan path (q153) and the store path
    * (q161, stats sidecar) count every document — zero-token docs
    * included — so both use the same all-docs stats CTE. */
  private def bm25SqlFor(nCte: String, where: String = "") =
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents$where),
      |base AS (SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS token FROM t),
      |tf AS (SELECT doc_id, doc_len, token, COUNT(*) AS tf FROM base
      |  WHERE token IN ($q151InList) GROUP BY 1, 2, 3),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |n AS ($nCte),
      |c AS (SELECT doc_id, doc_len, token,
      |    $bm25ContribSql AS contrib
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
      |p AS (SELECT doc_id, doc_len, COUNT(*) AS n_terms,
      |    $q151Cells
      |  FROM c GROUP BY 1, 2)
      |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len,
      |  $q151SumExpr AS score
      |FROM p WHERE n_terms = ${q151Terms.size}
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  private val q153Sql = bm25SqlFor(
    "SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS total_len FROM t")

  // ---------------------------------------------------------------
  // q161 — BM25 FROM THE POSTING STORE: q153's scoring arithmetic
  // over q159's persisted postings ([[graft.operators.InvertedIndex
  // .bm25SearchFromStore]]) — the served-index completion: term rows
  // from the pushed-filter store scan, corpus stats (N, Σdl) from
  // the per-batch STATS SIDECAR summed at query time (round 11 — the
  // pre-sidecar path distinct()-scanned the whole store per query).
  // Sidecar stats count EVERY batch doc, zero-token ones included,
  // so the oracle is q153's all-docs stats CTE verbatim: the store
  // path is now value-identical to the scan path on any corpus.
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q161_postings") { root =>
      writePostingHalves(docs, root)
      graft.operators.InvertedIndex.bm25SearchFromStore(
          s, root, "doc_id", q151Terms, k = 20)
        .transform(Checkpoints.pin)
    }
  }
  private val q161Sql = bm25SqlFor(
    "SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS total_len FROM t")

  // ---------------------------------------------------------------
  // q215 — PSEUDO-RELEVANCE FEEDBACK ([[graft.operators.InvertedIndex
  // .prfSearchFromStore]]): RM3-style query expansion over the
  // persisted posting store — pass 1 runs the strict AND BM25
  // (q161's serving path) and keeps the top 5 as the feedback set;
  // the feedback docs' 3 most frequent non-query terms (count desc,
  // token asc) join the query; pass 2 re-ranks with OR-semantics
  // FIXED-POINT BM25 (floor(2²⁰·idf·tfSat) longs, order-free sums —
  // the property that lets a DATA-DEPENDENT term set stay hash-exact:
  // the AND path's plan-time left-to-right double sum needs literal
  // terms). Oracle: both passes, the expansion selection, and the
  // fixed-point arithmetic replayed in DuckDB — a feedback-set
  // off-by-one, an expansion tiebreak drift, or a saturated-tf
  // parenthesization change all break the hash.
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q215_prf") { root =>
      writePostingHalves(docs, root)
      graft.operators.InvertedIndex.prfSearchFromStore(
        s, root, docs, "doc_id", "text", q151Terms,
        fbDocs = 5, fbTerms = 3, k = 20)
    }
  }
  private lazy val q215Sql =
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |base AS (SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS token FROM t),
      |n AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS total_len FROM t),
      |tf1 AS (SELECT doc_id, doc_len, token, COUNT(*) AS tf FROM base
      |  WHERE token IN ($q151InList) GROUP BY 1, 2, 3),
      |df1 AS (SELECT token, COUNT(*) AS df FROM tf1 GROUP BY token),
      |c1 AS (SELECT doc_id, doc_len, token, $bm25ContribSql AS contrib
      |  FROM tf1 JOIN df1 USING (token) CROSS JOIN n),
      |p1 AS (SELECT doc_id, doc_len, COUNT(*) AS n_terms,
      |    $q151Cells
      |  FROM c1 GROUP BY 1, 2),
      |fb AS (SELECT doc_id FROM (
      |  SELECT doc_id, $q151SumExpr AS score FROM p1
      |  WHERE n_terms = ${q151Terms.size}
      |  ORDER BY score DESC, doc_id LIMIT 5)),
      |exp AS (SELECT token FROM (
      |  SELECT b.token, COUNT(*) AS cnt FROM base b JOIN fb USING (doc_id)
      |  WHERE b.token NOT IN ($q151InList) GROUP BY 1
      |  ORDER BY cnt DESC, token LIMIT 3)),
      |allt AS (SELECT token FROM exp
      |  UNION ALL SELECT unnest([$q151InList]) AS token),
      |tf2 AS (SELECT doc_id, doc_len, token, COUNT(*) AS tf FROM base
      |  WHERE token IN (SELECT token FROM allt) GROUP BY 1, 2, 3),
      |df2 AS (SELECT token, COUNT(*) AS df FROM tf2 GROUP BY token),
      |c2 AS (SELECT doc_id, doc_len,
      |    CAST(floor(($bm25ContribSql) * 1048576.0) AS BIGINT) AS fp
      |  FROM tf2 JOIN df2 USING (token) CROSS JOIN n)
      |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len,
      |  COUNT(*) AS n_terms_hit, CAST(SUM(fp) AS BIGINT) AS prf_fp
      |FROM c2 GROUP BY 1, 2
      |ORDER BY prf_fp DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q60 — benchmark decontamination: training docs sharing any word
  // trigram with the eval slice (doc_id % 97 == 3 stands in for a
  // benchmark set), counted per language. The eval gram set broadcasts;
  // the corpus side is one map-side semi-join pass (see
  // [[graft.operators.Decontaminate]] scale notes).
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val evalSet = docs.filter(col("doc_id") % 97 === 3)
    val train = docs.filter(col("doc_id") % 97 =!= 3)
    Decontaminate.flagContaminated(train, evalSet, "doc_id", "text", n = 3)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("is_contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
      .orderBy(col("lang"))
  }
  private val q60Sql =
    s"""WITH t AS (SELECT doc_id, lang, $dTokens AS toks FROM documents),
      |tho AS (SELECT doc_id, lang,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM t),
      |sh AS (SELECT doc_id, lang,
      |  list_distinct(list_transform(range(1, len(th) - 1),
      |    i -> ((((th[i] * 65599 + th[i+1]) % 4294967311) * 65599 + th[i+2]) % 4294967311) % 4294967296)) AS hs
      |  FROM tho),
      |eg AS (SELECT DISTINCT unnest(hs) AS g FROM sh WHERE doc_id % 97 = 3),
      |tg AS (SELECT doc_id, unnest(hs) AS g FROM sh WHERE doc_id % 97 <> 3),
      |cont AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (g))
      |SELECT sh.lang, COUNT(*) AS n_train,
      |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |FROM sh LEFT JOIN cont c USING (doc_id)
      |WHERE sh.doc_id % 97 <> 3
      |GROUP BY sh.lang ORDER BY sh.lang""".stripMargin

  // ---------------------------------------------------------------
  // q61 — repetition statistics (Gopher/C4-style quality signals):
  // distinct-token ratio and top-token multiplicity per doc. The max
  // multiplicity is a linear fold over the sorted token array on the
  // Spark side; the oracle computes the same number as the max
  // per-distinct-token count (mode count == longest sorted run).
  private def q61(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))
  // null-symmetric with the Spark fold: NULL text -> NULL (Spark's
  // aggregate over a null array), empty token list -> 0 (the fold's
  // initial best). A bare COALESCE would one-sidedly map NULL to 0.
  // Shared by q61 and the q63 curation pipeline.
  private val dTopTokenCount =
    "CASE WHEN toks IS NULL THEN NULL ELSE " +
      "COALESCE(list_max(list_transform(list_distinct(toks), d -> len(list_filter(toks, x -> x = d)))), 0) END"

  private val q61Sql = {
    val topCnt = dTopTokenCount
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents)
      |SELECT doc_id,
      | CAST(len(toks) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      | CAST($topCnt AS BIGINT) AS top_token_count,
      | CAST(len(list_distinct(toks)) AS DOUBLE) / NULLIF(len(toks), 0) AS distinct_ratio,
      | CAST($topCnt AS DOUBLE) / NULLIF(len(toks), 0) AS top_token_frac
      |FROM t ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q154 — N-GRAM repetition signals ([[graft.operators.TextAnalysis
  // .ngramRepetition]], n = 3): the boilerplate/loop detector q61's
  // token-level ratios cannot be — navigation chrome and degenerate
  // generation loops repeat PHRASES of individually-common tokens,
  // visible only in the 3-gram multiset (duplicate-gram fraction,
  // top-gram fraction — the Gopher repetition-filter class). Fully
  // map-side like q61 (sliding concat_ws grams, array_distinct, the
  // sorted-run fold for max multiplicity — zero shuffles); the
  // oracle computes the same numbers as per-distinct-gram counts
  // (mode count == longest sorted run), with q61's null symmetry.
  private def q154(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramRepetition(Tables.documents(s, dir), "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  private val q154Sql = {
    val topCnt = "CASE WHEN grams IS NULL THEN NULL ELSE " +
      "COALESCE(list_max(list_transform(list_distinct(grams), " +
      "d -> len(list_filter(grams, x -> x = d)))), 0) END"
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |g AS (SELECT doc_id,
      |    CASE WHEN toks IS NULL THEN NULL
      |         WHEN len(toks) >= 3 THEN list_transform(range(0, len(toks) - 2),
      |           i -> array_to_string(toks[i+1:i+3], ' '))
      |         ELSE [] END AS grams
      |  FROM t)
      |SELECT doc_id,
      | CAST(len(grams) AS BIGINT) AS n_grams,
      | CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
      | CAST($topCnt AS BIGINT) AS top_gram_count,
      | CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
      |   / NULLIF(len(grams), 0) AS dup_gram_frac,
      | CAST($topCnt AS DOUBLE) / NULLIF(len(grams), 0) AS top_gram_frac
      |FROM g ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q155 — DIRECTIONAL containment over the LSH candidates
  // ([[graft.operators.Dedup.containmentPairs]]): |A∩B|/|A| and
  // |A∩B|/|B| per band-colliding pair, kept when either direction
  // ≥ 0.6 — the quote-expansion / template-instance relation q30's
  // symmetric Jaccard collapses (containment ≥ jaccard always, and
  // the GAP between the two directions is the asymmetry signal).
  // Candidate recall is band-limited, stated on the operator; same
  // plan shape and materialization as q30, only the verify
  // arithmetic differs. The oracle rides the shared dLshCtes chain.
  private def q155(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.containmentPairs(Tables.documents(s, dir),
        "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.6)
      .orderBy(col("id_a"), col("id_b"))
  private val q155Sql = {
    val ca = "CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) / len(sa.hs)"
    val cb = "CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) / len(sb.hs)"
    s"""WITH ${dLshCtes("documents")}
      |SELECT id_a, id_b,
      | $ca AS containment_a,
      | $cb AS containment_b
      |FROM cand JOIN hb sa ON cand.id_a = sa.doc_id
      |          JOIN hb sb ON cand.id_b = sb.doc_id
      |WHERE GREATEST($ca, $cb) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // q156 — SEMANTIC decontamination: q60's eval slice (doc_id % 97 =
  // 3) matched against training docs by EMBEDDING cosine instead of
  // exact trigram overlap — the paraphrase-contamination detector
  // (an eval question rephrased in a training doc shares meaning-
  // space, not necessarily any exact 3-gram). Encoder = the q130/
  // q131 hashEmbed stub (dim 32); per train doc the MAX cosine
  // against any eval embedding, flagged at ≥ 0.9 (the q130 near-dup
  // operating point), reported as per-language counts like q60 so
  // the two detectors are directly comparable.
  //
  // Scale shape: the EVAL side is the broadcast side — benchmark
  // suites are small constants however big the training corpus, the
  // same asymmetry q60 exploits for its gram set — so the scoring
  // pass is corpus-linear (|eval| dots per doc, map-side) and the
  // per-doc max collapses in the partial aggregate before any
  // shuffle; the only exchange carries one row per train doc. The
  // localCheckpoint is the q130 CollapseProject barrier (encoder
  // feeds norm + every pair cosine).
  private def q156(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val flagged = graft.operators.Decontaminate.flagSemanticContaminated(
      docs.filter(col("doc_id") % 97 =!= 3)
        .select(col("doc_id"), col("lang"), col("text")),
      docs.filter(col("doc_id") % 97 === 3),
      "doc_id", "text", dim = 32, threshold = 0.9)
    flagged.groupBy(col("lang")).agg(count(lit(1)).as("n_train"),
        sum(when(col("is_sem_contaminated"), 1L).otherwise(0L))
          .as("n_sem_contaminated"))
      .orderBy(col("lang"))
  }
  private val q156Sql = {
    val emb = dHashedEmb("toks", 32)
    s"""WITH t AS (SELECT doc_id, lang, $dTokens AS toks FROM documents),
      |e0 AS (SELECT doc_id, lang, $emb AS emb FROM t),
      |n AS (SELECT doc_id, lang, doc_id % 97 = 3 AS is_eval, emb,
      |  sqrt(list_reduce(list_prepend(0.0,
      |    list_transform(emb, x -> x * x)), (a, b) -> a + b)) AS nrm
      |  FROM e0),
      |ev AS (SELECT emb AS ev, nrm AS en FROM n WHERE is_eval AND nrm > 0),
      |sc AS (SELECT tr.doc_id,
      |    MAX(list_reduce(list_prepend(0.0,
      |      list_transform(range(1, 33), i -> tr.emb[i] * ev.ev[i])),
      |      (x, y) -> x + y) / (tr.nrm * ev.en)) AS max_cos
      |  FROM n tr CROSS JOIN ev WHERE NOT tr.is_eval AND tr.nrm > 0
      |  GROUP BY tr.doc_id),
      |fl AS (SELECT doc_id FROM sc WHERE max_cos >= 0.9)
      |SELECT tr.lang, COUNT(*) AS n_train,
      |  CAST(SUM(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_contaminated
      |FROM n tr LEFT JOIN fl ON tr.doc_id = fl.doc_id
      |WHERE NOT tr.is_eval
      |GROUP BY tr.lang ORDER BY tr.lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q63 — the curation pipeline END-TO-END, composing the operators a
  // training-data run chains: exact dedup (keep min-id survivor) →
  // near-dup cluster dedup (LSH pairs → connected components, keep the
  // component's canonical doc) → benchmark decontamination → quality
  // gate (fixed-weight score + repetition). Stages run SEQUENTIALLY on
  // survivors — each doc is attributed to the FIRST stage that drops
  // it, so the per-language accounting is unambiguous and the five
  // counts partition n_train exactly. The oracle rebuilds the same
  // pipeline from the shared SQL fragments (LSH chain, recursive
  // closure, quality expression) over the same survivor CTEs.
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val evalSet = docs.filter(col("doc_id") % 97 === 3)
    val train = docs.filter(col("doc_id") % 97 =!= 3)

    // NOTE (measured, do not "optimize"): the flag frames below are
    // each referenced by two downstream plans, but checkpointing them
    // makes q63 2× SLOWER (3.2 s → 6.5 s at sf0.1): the single lazy
    // job already deduplicates the repeated subtrees via
    // ReusedExchange, while eager checkpoints split the pipeline into
    // independent jobs that rebuild their upstreams without cross-job
    // reuse. The one checkpoint that pays is the signature
    // materialization barrier INSIDE minhashLshPairs.
    val exactDups = Dedup.exactGroups(train, "doc_id", "text")
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id"), lit(true).as("f_exact"))
    val surv1 = train.join(exactDups, Seq("doc_id"), "left_anti")

    val pairs = Dedup.minhashLshPairs(surv1, "doc_id", "text",
      k = 16, shingleN = 3, bands = 8, threshold = 0.5)
    val nearDups = Dedup.connectedComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"), lit(true).as("f_near"))
    val surv2 = surv1.join(nearDups, Seq("doc_id"), "left_anti")

    val contaminated = Decontaminate
      .flagContaminated(surv2, evalSet, "doc_id", "text", n = 3)
      .filter(col("is_contaminated"))
      .select(col("doc_id"), lit(true).as("f_cont"))
    val surv3 = surv2.join(contaminated, Seq("doc_id"), "left_anti")

    val lowQuality = surv3
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .join(TextAnalysis.repetitionStats(surv3, "doc_id", "text")
        .select(col("doc_id"), col("top_token_frac")), Seq("doc_id"))
      .filter(col("quality") < 0.55 ||
        coalesce(col("top_token_frac") > 0.2, lit(false)))
      .select(col("doc_id"), lit(true).as("f_lowq"))

    train.select(col("doc_id"), col("lang"))
      .join(exactDups, Seq("doc_id"), "left")
      .join(nearDups, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(lowQuality, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_train"),
        sum(when(col("f_exact"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("f_near"), 1L).otherwise(0L)).as("n_near_dup"),
        sum(when(col("f_cont"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("f_lowq"), 1L).otherwise(0L)).as("n_low_quality"),
        sum(when(col("f_exact").isNull && col("f_near").isNull &&
          col("f_cont").isNull && col("f_lowq").isNull, 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }
  private val q63Sql =
    s"""WITH RECURSIVE tr AS (
      |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 3),
      |eh AS (SELECT doc_id, md5(text) AS h FROM tr),
      |ek AS (SELECT h, MIN(doc_id) AS keeper FROM eh GROUP BY h),
      |ed AS (SELECT eh.doc_id FROM eh JOIN ek USING (h) WHERE eh.doc_id <> ek.keeper),
      |s1 AS (SELECT * FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM ed)),
      |${dLshCtes("s1")},
      |pairs AS ($dLshPairsSelect),
      |$dCcCtes,
      |nd AS (SELECT doc_id FROM comp WHERE doc_id <> component),
      |s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
      |eg AS (SELECT DISTINCT unnest(hs) AS g FROM (
      |  SELECT list_distinct(list_transform(range(1, len(eth) - 1),
      |    i -> ((((eth[i] * 65599 + eth[i+1]) % 4294967311) * 65599 + eth[i+2]) % 4294967311) % 4294967296)) AS hs
      |  FROM (SELECT list_transform($dTokens, x -> ${dHash("x")} % 4294967296) AS eth
      |        FROM documents WHERE doc_id % 97 = 3))),
      |tg AS (SELECT hb.doc_id, unnest(hb.hs) AS g FROM hb
      |       WHERE hb.doc_id IN (SELECT doc_id FROM s2)),
      |contids AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (g)),
      |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM contids)),
      |qr AS (SELECT doc_id, text, $dTokens AS toks FROM s3),
      |lowq AS (SELECT doc_id FROM qr
      |  WHERE $dQuality < 0.55
      |     OR COALESCE(CAST($dTopTokenCount AS DOUBLE) / NULLIF(len(toks), 0) > 0.2, FALSE))
      |SELECT tr.lang,
      |  COUNT(*) AS n_train,
      |  CAST(SUM(CASE WHEN tr.doc_id IN (SELECT doc_id FROM ed) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
      |  CAST(SUM(CASE WHEN tr.doc_id IN (SELECT doc_id FROM nd) THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
      |  CAST(SUM(CASE WHEN tr.doc_id IN (SELECT doc_id FROM contids) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  CAST(SUM(CASE WHEN tr.doc_id IN (SELECT doc_id FROM lowq) THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
      |  CAST(SUM(CASE WHEN tr.doc_id NOT IN (SELECT doc_id FROM ed)
      |             AND tr.doc_id NOT IN (SELECT doc_id FROM nd)
      |             AND tr.doc_id NOT IN (SELECT doc_id FROM contids)
      |             AND tr.doc_id NOT IN (SELECT doc_id FROM lowq) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM tr GROUP BY tr.lang ORDER BY tr.lang""".stripMargin

  // ---------------------------------------------------------------
  // q66 — PII scrubbing: synthesize deterministic PII (email, IPv4,
  // SSN, phone — derived from doc_id, identically on both sides) into
  // each document, then run the ordered redaction. Counts come from
  // the same staged rewrite the redaction applies; the redacted text
  // is checked via its md5 signature. Pure map-side regexp work —
  // one corpus pass, no shuffle (see [[graft.operators.Pii]]).
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val seeded = Tables.documents(s, dir)
      .withColumn("text", concat(
        col("text"),
        lit(" reach user"), id, lit("@mail.example.com or 10.1."),
        (col("doc_id") % 200).cast("string"), lit(".7 ssn 123-45-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" call 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
    Pii.scrub(seeded, "text")
      .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_ssn"),
        col("n_phone"), length(col("redacted")).cast("long").as("redacted_len"),
        substring(md5(col("redacted")), 1, 16).as("redacted_sig"))
      .orderBy(col("doc_id"))
  }
  private val q66Sql = {
    val Seq(email, ipv4, ssn, phone) = Pii.rules.map(_._2)
    s"""WITH d AS (SELECT doc_id,
      |  text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 10.1.'
      |    || CAST(doc_id % 200 AS VARCHAR) || '.7 ssn 123-45-'
      |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
      |  FROM documents),
      |s1 AS (SELECT doc_id, t0, regexp_replace(t0, '$email', '<EMAIL>', 'g') AS t1 FROM d),
      |s2 AS (SELECT *, regexp_replace(t1, '$ipv4', '<IP>', 'g') AS t2 FROM s1),
      |s3 AS (SELECT *, regexp_replace(t2, '$ssn', '<SSN>', 'g') AS t3 FROM s2),
      |s4 AS (SELECT *, regexp_replace(t3, '$phone', '<PHONE>', 'g') AS t4 FROM s3)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t0, '$email')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(t1, '$ipv4')) AS BIGINT) AS n_ipv4,
      |  CAST(len(regexp_extract_all(t2, '$ssn')) AS BIGINT) AS n_ssn,
      |  CAST(len(regexp_extract_all(t3, '$phone')) AS BIGINT) AS n_phone,
      |  CAST(length(t4) AS BIGINT) AS redacted_len,
      |  substr(md5(t4), 1, 16) AS redacted_sig
      |FROM s4 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q68 — context-window chunking: 64-token windows every 48 tokens
  // (16-token overlap). One map-side pass — tokenize, sequence the
  // window starts, slice, posexplode; no shuffle, no state (see
  // [[graft.operators.Chunking]]).
  private def q68(s: SparkSession, dir: String): DataFrame =
    Chunking.chunkByTokens(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, strideTokens = 48)
      .orderBy(col("doc_id"), col("chunk_id"))
  private val q68Sql =
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |w AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 48)) AS start
      |      FROM t WHERE len(toks) > 0)
      |SELECT doc_id,
      |  CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
      |  CAST(start - 1 AS BIGINT) AS chunk_start,
      |  CAST(len(toks[start:start+63]) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(toks[start:start+63], ' ') AS chunk_text
      |FROM w ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------
  // q69 — top-3 characteristic keywords per doc by the exact rational
  // tf * n_docs / df (no logarithm — cross-engine bit-equality; see
  // [[graft.operators.TextAnalysis.topKeywords]]). The per-doc top-k
  // keeps the map-side WindowGroupLimit(Partial) shape.
  private def q69(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topKeywords(Tables.documents(s, dir), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))
  private val q69Sql =
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (SELECT doc_id, tf.token, tf.tf, dfreq.df,
      |    CAST(tf.tf AS DOUBLE) * n_docs / dfreq.df AS score
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, token) AS rank FROM scored)
      |SELECT doc_id, rank, token, tf, df, score FROM ranked
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Per-doc media fixture parameters: `id` and the text's UTF-8
    * byte length `tlen`. */
  private def mediaParams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").as("id"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("tlen"))

  /** q111/q171's image fixtures: a closed-form PNG ramp per doc, every
    * 7th payload a non-image. */
  private def pngFixtures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id").as("id")).as[Long].map { id =>
      if (id % 7 == 0)
        Multimodal.MediaRecord(id, "image", s"img-$id".getBytes("UTF-8"))
      else Multimodal.MediaRecord(id, "image", Multimodal.pngBytes(
        w = (8 + id % 5 * 4).toInt, h = (6 + id % 3 * 4).toInt, seed = id))
    }.toDF()
  }

  // ---------------------------------------------------------------
  // q108 — REAL audio/video container parsing ([[Multimodal
  // .tryDecodeWav]] / [[Multimodal.tryDecodeMp4]]): fixture WAV and
  // MP4 payloads are BUILT in-query from integer parameters derived
  // from each document (sample rate, channels, frame counts, mvhd
  // version 0/1 …), then probed by the real header parsers — so the
  // gate checks parse(build(p)) reproduces p's derived fields, which
  // the oracle recomputes arithmetically. Every 5th doc carries a
  // non-container payload and must take the stub path.
  private def q108(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = mediaParams(s, dir)
    val media = params.as[(Long, Long)].map { case (id, tlen) =>
      if (id % 5 == 0)
        Multimodal.MediaRecord(id, "audio", s"xx-$id".getBytes("UTF-8"))
      else if (id % 2 == 0)
        Multimodal.MediaRecord(id, "audio", Multimodal.wavBytes(
          sampleRate = (8000 * (1 + id % 3)).toInt,
          channels = (1 + (id / 2) % 2).toInt,
          bitsPerSample = 16, frames = (100 + tlen % 400).toInt))
      else
        Multimodal.MediaRecord(id, "video", Multimodal.mp4Bytes(
          timescale = (600 + (id % 5) * 100).toInt,
          duration = 1000 + tlen % 9000,
          frames = (24 * (1 + id % 7)).toInt,
          mvhdVersion = ((id / 2) % 2).toInt,
          // every 3rd video carries a LEADING audio track — the walk
          // must still report the video track's frame count
          audioFramesFirst =
            if (id % 3 == 1) Some((50 + tlen % 100).toInt) else None))
    }.toDF()
    Multimodal.probeMedia(s, media)
      .select(col("media_id"), col("kind"), col("codec"), col("n_bytes"),
        col("sample_rate"), col("channels"), col("duration_ms"), col("frames"))
      .orderBy(col("media_id"))
  }
  private val q108Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS tlen FROM documents),
      |w AS (SELECT id, 8000 * (1 + id % 3) AS rate, 1 + (id // 2) % 2 AS ch,
      |    100 + tlen % 400 AS fw FROM d WHERE id % 5 <> 0 AND id % 2 = 0),
      |v AS (SELECT id, 600 + (id % 5) * 100 AS ts, 1000 + tlen % 9000 AS dur,
      |    24 * (1 + id % 7) AS fr, (id // 2) % 2 AS ver,
      |    CASE WHEN id % 3 = 1 THEN 97 ELSE 0 END AS audio_trak
      |  FROM d WHERE id % 5 <> 0 AND id % 2 = 1),
      |st AS (SELECT id,
      |    CAST(octet_length(encode('xx-' || CAST(id AS VARCHAR))) AS BIGINT) AS n
      |  FROM d WHERE id % 5 = 0)
      |SELECT id AS media_id, 'audio' AS kind, 'wav' AS codec,
      |  CAST(44 + fw * ch * 2 AS BIGINT) AS n_bytes,
      |  CAST(rate AS INTEGER) AS sample_rate, CAST(ch AS INTEGER) AS channels,
      |  CAST(fw * 1000 // rate AS BIGINT) AS duration_ms,
      |  CAST(0 AS INTEGER) AS frames
      |FROM w
      |UNION ALL
      |SELECT id, 'video', 'mp4', CAST(249 + 12 * ver + audio_trak AS BIGINT),
      |  CAST(0 AS INTEGER), CAST(0 AS INTEGER),
      |  CAST(dur * 1000 // ts AS BIGINT), CAST(fr AS INTEGER)
      |FROM v
      |UNION ALL
      |SELECT id, 'audio', 'stub', n,
      |  CAST(n % 48000 AS INTEGER), CAST(n % 8 AS INTEGER),
      |  n, CAST(1 AS INTEGER)
      |FROM st
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------
  // q240 — REAL WAV PCM decode ([[Multimodal.decodeWavPcm]]): the one
  // a/v codec whose decode is the container's own byte layout, so it
  // ships decoded for real with zero dependencies (MP3/MP4 payloads
  // stay the documented stub). Fixture WAVs are BUILT in-query from
  // per-document parameters (8-bit mono and 16-bit mono/stereo PCM,
  // [[Multimodal.wavBytes]]'s deterministic `(i % 251)` data bytes),
  // then the real decoder walks the RIFF chunks and decodes every
  // sample — peak, clipped-at-rails count and the fixed-point
  // loudness aggregates (sum |amp|, sum amp²) are integer-exact, so
  // the oracle recomputes them arithmetically from the same
  // generating formula. parse(build(p)) over the FULL payload, not
  // just the header: a one-byte decode error shifts sum_sq and fails
  // the hash.
  private def q240(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = mediaParams(s, dir)
    params.as[(Long, Long)].map { case (id, tlen) =>
      val bytes =
        if (id % 5 == 0)
          Multimodal.wavBytes(11025, 1, 8, (50 + tlen % 200).toInt)
        else
          Multimodal.wavBytes(8000, (1 + id % 2).toInt, 16,
            (100 + tlen % 400).toInt)
      val p = Multimodal.decodeWavPcm(bytes).getOrElse(
        throw new IllegalStateException(s"fixture WAV $id failed to decode"))
      (id, p.sample_rate, p.channels, p.bits, p.n_samples, p.peak,
        p.clipped, p.sum_abs, p.sum_sq)
    }.toDF("doc_id", "sample_rate", "channels", "bits", "n_samples",
      "peak", "clipped", "sum_abs", "sum_sq")
      .orderBy(col("doc_id"))
  }
  private val q240Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS tlen FROM documents),
      |p AS (
      |  SELECT id, 11025 AS rate, 1 AS ch, 8 AS bits,
      |      50 + tlen % 200 AS ns FROM d WHERE id % 5 = 0
      |  UNION ALL
      |  SELECT id, 8000, 1 + id % 2, 16,
      |      (100 + tlen % 400) * (1 + id % 2) FROM d WHERE id % 5 <> 0),
      |s AS (SELECT id, rate, ch, bits, ns, unnest(range(ns)) AS j FROM p),
      |a AS (SELECT id, rate, ch, bits, ns,
      |    CASE WHEN bits = 8 THEN (j % 251) - 128
      |         WHEN ((2*j) % 251) + 256 * (((2*j)+1) % 251) >= 32768
      |           THEN ((2*j) % 251) + 256 * (((2*j)+1) % 251) - 65536
      |         ELSE ((2*j) % 251) + 256 * (((2*j)+1) % 251) END AS amp
      |  FROM s)
      |SELECT id AS doc_id, CAST(rate AS INTEGER) AS sample_rate,
      |  CAST(ch AS INTEGER) AS channels, CAST(bits AS INTEGER) AS bits,
      |  CAST(ns AS BIGINT) AS n_samples,
      |  CAST(MAX(ABS(amp)) AS BIGINT) AS peak,
      |  CAST(SUM(CASE WHEN (bits = 8 AND amp IN (-128, 127))
      |      OR (bits = 16 AND amp IN (-32768, 32767))
      |    THEN 1 ELSE 0 END) AS BIGINT) AS clipped,
      |  CAST(SUM(ABS(amp)) AS BIGINT) AS sum_abs,
      |  CAST(SUM(amp * amp) AS BIGINT) AS sum_sq
      |FROM a GROUP BY id, rate, ch, bits, ns
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q242 — fixed-window energy segmentation over the REAL decoded
  // samples ([[Multimodal.pcmWindowEnergy]]): the op a training
  // pipeline actually runs on decoded audio — silence trimming /
  // voice-activity-ish admission — in pure integer arithmetic
  // (per-window sum-of-squares vs an integer per-sample threshold on
  // the window's OWN length, so the short tail window is judged by
  // the same mean-square bar). Same deterministic fixture WAVs as
  // q240; thresholds 2^(2·bits−4) sit near the generator's mean
  // square, so both codecs produce interleaved active/silent windows
  // (first/last trim and the voiced aggregates are all non-trivial).
  // The oracle re-windows the generating formula with `j // 64` and
  // recomputes every aggregate exactly.
  private def q242(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = mediaParams(s, dir)
    params.as[(Long, Long)].map { case (id, tlen) =>
      val (bytes, thr) =
        if (id % 5 == 0)
          (Multimodal.wavBytes(11025, 1, 8, (50 + tlen % 200).toInt),
            1L << 12)
        else
          (Multimodal.wavBytes(8000, (1 + id % 2).toInt, 16,
            (100 + tlen % 400).toInt), 1L << 28)
      val p = Multimodal.pcmWindowEnergy(bytes, window = 64, threshold = thr)
        .getOrElse(throw new IllegalStateException(
          s"fixture WAV $id failed to decode"))
      (id, p.bits, p.n_samples, p.n_windows, p.active_windows,
        p.first_active, p.last_active, p.voiced_samples, p.voiced_sum_sq)
    }.toDF("doc_id", "bits", "n_samples", "n_windows", "active_windows",
      "first_active", "last_active", "voiced_samples", "voiced_sum_sq")
      .orderBy(col("doc_id"))
  }
  private val q242Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS tlen FROM documents),
      |p AS (
      |  SELECT id, 8 AS bits, 50 + tlen % 200 AS ns,
      |      CAST(4096 AS BIGINT) AS thr FROM d WHERE id % 5 = 0
      |  UNION ALL
      |  SELECT id, 16, (100 + tlen % 400) * (1 + id % 2),
      |      CAST(268435456 AS BIGINT) FROM d WHERE id % 5 <> 0),
      |s AS (SELECT id, bits, ns, thr, unnest(range(ns)) AS j FROM p),
      |a AS (SELECT id, bits, ns, thr, j // 64 AS win,
      |    CASE WHEN bits = 8 THEN (j % 251) - 128
      |         WHEN ((2*j) % 251) + 256 * (((2*j)+1) % 251) >= 32768
      |           THEN ((2*j) % 251) + 256 * (((2*j)+1) % 251) - 65536
      |         ELSE ((2*j) % 251) + 256 * (((2*j)+1) % 251) END AS amp
      |  FROM s),
      |w AS (SELECT id, bits, ns, thr, win, COUNT(*) AS nw,
      |    CAST(SUM(amp * amp) AS BIGINT) AS ss
      |  FROM a GROUP BY id, bits, ns, thr, win),
      |v AS (SELECT id, bits, ns, win, nw, ss, ss > thr * nw AS act FROM w)
      |SELECT id AS doc_id, CAST(bits AS INTEGER) AS bits,
      |  CAST(ns AS BIGINT) AS n_samples,
      |  CAST(COUNT(*) AS INTEGER) AS n_windows,
      |  CAST(SUM(CASE WHEN act THEN 1 ELSE 0 END) AS INTEGER)
      |    AS active_windows,
      |  CAST(COALESCE(MIN(CASE WHEN act THEN win END), -1) AS INTEGER)
      |    AS first_active,
      |  CAST(COALESCE(MAX(CASE WHEN act THEN win END), -1) AS INTEGER)
      |    AS last_active,
      |  CAST(COALESCE(SUM(CASE WHEN act THEN nw END), 0) AS BIGINT)
      |    AS voiced_samples,
      |  CAST(COALESCE(SUM(CASE WHEN act THEN ss END), 0) AS BIGINT)
      |    AS voiced_sum_sq
      |FROM v GROUP BY id, bits, ns
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q111 — REAL pixel decode ([[Multimodal.imageStats]]): per-doc PNG
  // fixtures with closed-form channel ramps are ENCODED through the
  // JDK's real PNG writer in-query, then fully decoded back
  // (header-probe → budget check → ImageIO.read → exact integer
  // channel sums), so the gate covers the whole codec round-trip —
  // the oracle recomputes the ramp sums arithmetically per pixel
  // grid. Every 7th payload is a non-image and must take the stub.
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val media = pngFixtures(s, dir)
    Multimodal.imageStats(s, media)
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy(col("media_id"))
  }
  private val q111Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |p AS (SELECT id, 8 + (id % 5) * 4 AS w, 6 + (id % 3) * 4 AS h
      |  FROM d WHERE id % 7 <> 0),
      |px AS (SELECT id, w, h, x, y
      |  FROM p, unnest(range(0, w)) AS t1(x), unnest(range(0, h)) AS t2(y)),
      |sums AS (SELECT id, w, h,
      |    SUM((7*x + 13*y + id) % 256) AS sr,
      |    SUM((3*x + 5*y + 2*id) % 256) AS sg,
      |    SUM((11*x + 2*y + 3*id) % 256) AS sb,
      |    COUNT(*) AS npx
      |  FROM px GROUP BY id, w, h),
      |st AS (SELECT id,
      |    CAST(octet_length(encode('img-' || CAST(id AS VARCHAR))) AS BIGINT) AS n
      |  FROM d WHERE id % 7 = 0)
      |SELECT id AS media_id, 'image' AS codec,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(sr AS DOUBLE) / npx AS mean_r,
      |  CAST(sg AS DOUBLE) / npx AS mean_g,
      |  CAST(sb AS DOUBLE) / npx AS mean_b
      |FROM sums
      |UNION ALL
      |SELECT id, 'stub', CAST(n % 640 AS INTEGER), CAST(n % 480 AS INTEGER),
      |  CAST(n % 251 AS DOUBLE), CAST(n % 241 AS DOUBLE), CAST(n % 239 AS DOUBLE)
      |FROM st
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------
  // q171 — NEAREST-NEIGHBOR RESIZE ([[Multimodal.imageResize]]): the
  // normalize-for-the-vision-encoder pass over q111's PNG fixtures —
  // real decode, exact-integer sample map ((x'·w) DIV 5, (y'·h)
  // DIV 4), real PNG re-encode (binary column carried, writer-
  // specific bytes ungated), per-channel means of the RESIZED 5×4
  // grid from exact sums. The oracle replays the sample map on the
  // closed-form ramps; every 7th payload is a non-image and must
  // take the stub.
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val media = pngFixtures(s, dir)
    Multimodal.imageResize(s, media, outW = 5, outH = 4)
      .select(col("media_id"), col("codec"), col("src_w"), col("src_h"),
        col("out_w"), col("out_h"),
        col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy(col("media_id"))
  }
  private val q171Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |p AS (SELECT id, 8 + (id % 5) * 4 AS w, 6 + (id % 3) * 4 AS h
      |  FROM d WHERE id % 7 <> 0),
      |px AS (SELECT id, w, h,
      |    (xp * w) // 5 AS sx, (yp * h) // 4 AS sy
      |  FROM p, unnest(range(0, 5)) AS t1(xp), unnest(range(0, 4)) AS t2(yp)),
      |sums AS (SELECT id, w, h,
      |    SUM((7*sx + 13*sy + id) % 256) AS sr,
      |    SUM((3*sx + 5*sy + 2*id) % 256) AS sg,
      |    SUM((11*sx + 2*sy + 3*id) % 256) AS sb,
      |    COUNT(*) AS npx
      |  FROM px GROUP BY id, w, h),
      |st AS (SELECT id,
      |    CAST(octet_length(encode('img-' || CAST(id AS VARCHAR))) AS BIGINT) AS n
      |  FROM d WHERE id % 7 = 0)
      |SELECT id AS media_id, 'image' AS codec,
      |  CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
      |  5 AS out_w, 4 AS out_h,
      |  CAST(sr AS DOUBLE) / npx AS mean_r,
      |  CAST(sg AS DOUBLE) / npx AS mean_g,
      |  CAST(sb AS DOUBLE) / npx AS mean_b
      |FROM sums
      |UNION ALL
      |SELECT id, 'stub', CAST(n % 640 AS INTEGER), CAST(n % 480 AS INTEGER),
      |  5, 4,
      |  CAST(n % 251 AS DOUBLE), CAST(n % 241 AS DOUBLE), CAST(n % 239 AS DOUBLE)
      |FROM st
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------
  // q114 — frame sampling driven by the REAL container frame count:
  // [[Multimodal.frameSampleProbed]] reads each fixture MP4's video-
  // track stsz (q108's builders, incl. multi-track files) and strides
  // k=4 sample indices over THAT count; every 5th payload is a
  // non-container and must fall back to the stub frame model. The
  // oracle recomputes the whole index/offset grid arithmetically.
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = mediaParams(s, dir)
    val media = params.as[(Long, Long)].flatMap { case (id, tlen) =>
      if (id % 5 == 0)
        Some(Multimodal.MediaRecord(id, "video", s"xx-$id".getBytes("UTF-8")))
      else if (id % 2 == 1)
        Some(Multimodal.MediaRecord(id, "video", Multimodal.mp4Bytes(
          timescale = (600 + (id % 5) * 100).toInt,
          duration = 1000 + tlen % 9000,
          frames = (24 * (1 + id % 7)).toInt,
          mvhdVersion = ((id / 2) % 2).toInt,
          audioFramesFirst =
            if (id % 3 == 1) Some((50 + tlen % 100).toInt) else None)))
      else None
    }.toDF()
    Multimodal.frameSampleProbed(s, media, k = 4)
      .select(col("media_id"), col("frame_idx"), col("frame_offset"),
        col("frame_len"))
      .orderBy(col("media_id"), col("frame_idx"))
  }
  private val q114Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS tlen FROM documents),
      |v AS (SELECT id,
      |    CAST(249 + 12 * ((id // 2) % 2)
      |      + CASE WHEN id % 3 = 1 THEN 97 ELSE 0 END AS BIGINT) AS n,
      |    CAST(24 * (1 + id % 7) AS BIGINT) AS fr
      |  FROM d WHERE id % 5 <> 0 AND id % 2 = 1
      |  UNION ALL
      |  SELECT id,
      |    CAST(octet_length(encode('xx-' || CAST(id AS VARCHAR))) AS BIGINT),
      |    CAST(octet_length(encode('xx-' || CAST(id AS VARCHAR))) % 30 + 1 AS BIGINT)
      |  FROM d WHERE id % 5 = 0),
      |f AS (SELECT id, n // fr AS flen, fr FROM v),
      |i AS (SELECT id, flen,
      |    unnest(list_distinct(list_transform(range(0, 4), j -> j * fr // 4))) AS frame_idx
      |  FROM f)
      |SELECT id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(frame_idx * flen AS BIGINT) AS frame_offset,
      |  CAST(flen AS BIGINT) AS frame_len
      |FROM i ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------
  // q115 — frame sampling with TRUE per-sample byte ranges:
  // [[Multimodal.frameSampleExact]] reads each fixture MP4's full
  // sample table (stsz per-sample SIZE table + stsc runs + stco chunk
  // offsets; [[Multimodal.mp4BytesChunked]] builds non-uniform sizes,
  // multi-entry stsc, and inter-chunk gaps so offsets ≠ any uniform
  // model) and emits each sampled frame's real (offset, length) plus
  // the md5 of the ACTUAL frame bytes. The oracle recomputes offsets
  // from the declared size table (28 + prefix-sum + gap·chunkIdx) and
  // the md5 from the closed-form byte ramp. Every 5th payload is a
  // non-container and must take the uniform stub model.
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = mediaParams(s, dir)
    val media = params.as[(Long, Long)].flatMap { case (id, tlen) =>
      if (id % 5 == 0)
        Some(Multimodal.MediaRecord(id, "video", s"xx-$id".getBytes("UTF-8")))
      else if (id % 2 == 1) {
        val fr = (3 + id % 12).toInt
        val sizes = Seq.tabulate(fr)(i => (20 + (id + 13L * i) % 40).toInt)
        Some(Multimodal.MediaRecord(id, "video", Multimodal.mp4BytesChunked(
          timescale = (600 + (id % 5) * 100).toInt,
          duration = 1000 + tlen % 9000,
          sampleSizes = sizes, seed = id,
          mvhdVersion = ((id / 2) % 2).toInt,
          audioFramesFirst =
            if (id % 3 == 1) Some((50 + tlen % 100).toInt) else None)))
      } else None
    }.toDF()
    Multimodal.frameSampleExact(s, media, k = 4)
      .orderBy(col("media_id"), col("frame_idx"))
  }
  private val q115Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |v AS (SELECT id, CAST(3 + id % 12 AS BIGINT) AS fr
      |  FROM d WHERE id % 5 <> 0 AND id % 2 = 1),
      |sz AS (SELECT id, fr, i, CAST(20 + (id + 13*i) % 40 AS BIGINT) AS s
      |  FROM v, unnest(range(0, fr)) AS t(i)),
      |off AS (SELECT id, i, s,
      |    28 + COALESCE(SUM(s) OVER (PARTITION BY id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + 3 * (i // 5) AS o
      |  FROM sz),
      |samp AS (SELECT id, unnest(list_distinct(
      |    list_transform(range(0, 4), j -> j * fr // 4))) AS frame_idx FROM v),
      |real AS (SELECT s.id AS media_id, CAST(s.frame_idx AS BIGINT) AS frame_idx,
      |    CAST(o.o AS BIGINT) AS frame_offset, CAST(o.s AS BIGINT) AS frame_len,
      |    md5(array_to_string(list_transform(range(0, o.s),
      |      j -> chr(CAST(32 + (s.id + 7*o.i + 11*j) % 95 AS INTEGER))), ''))
      |      AS frame_md5,
      |    'mp4' AS codec
      |  FROM samp s JOIN off o ON o.id = s.id AND o.i = s.frame_idx),
      |st AS (SELECT id,
      |    CAST(octet_length(encode('xx-' || CAST(id AS VARCHAR))) AS BIGINT) AS n
      |  FROM d WHERE id % 5 = 0),
      |stf AS (SELECT id, n, n % 30 + 1 AS fr, n // (n % 30 + 1) AS flen FROM st),
      |sts AS (SELECT id, n, fr, flen, unnest(list_distinct(
      |    list_transform(range(0, 4), j -> j * fr // 4))) AS frame_idx FROM stf),
      |stub AS (SELECT id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |    CAST(frame_idx * flen AS BIGINT) AS frame_offset,
      |    CAST(flen AS BIGINT) AS frame_len,
      |    md5(substring('xx-' || CAST(id AS VARCHAR),
      |      CAST(frame_idx * flen + 1 AS INTEGER), CAST(flen AS INTEGER)))
      |      AS frame_md5,
      |    'stub' AS codec
      |  FROM sts)
      |SELECT * FROM (SELECT * FROM real UNION ALL SELECT * FROM stub)
      |ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------
  // q116 — compressed-audio container parsing ([[Multimodal
  // .tryDecodeMp3]] / [[Multimodal.tryDecodeFlac]]): fixture MP3
  // streams (MPEG1/MPEG2 Layer III, CBR frame walks, optional ID3v2
  // tag to skip, mono/stereo mode bits) and FLAC files (exact
  // STREAMINFO bit-unpack, optional PADDING block) are built in-query
  // from per-doc integer parameters, then probed by the real header
  // walks — the oracle recomputes byte sizes, durations, and frame
  // counts from the public bitrate/samplerate tables. Every 5th doc
  // carries a non-container payload and must take the stub path.
  private def q116(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = mediaParams(s, dir)
    val media = params.as[(Long, Long)].map { case (id, tlen) =>
      if (id % 5 == 0)
        Multimodal.MediaRecord(id, "audio", s"au-$id".getBytes("UTF-8"))
      else if (id % 2 == 0)
        Multimodal.MediaRecord(id, "audio", Multimodal.mp3Bytes(
          mpeg1 = (id / 2) % 2 == 0,
          bitrateIdx = (9 + id % 3).toInt,
          rateIdx = ((id / 3) % 3).toInt,
          frames = (3 + id % 20).toInt,
          mono = id % 4 == 0,
          id3Size = if (id % 3 == 1) 17 else 0))
      else
        Multimodal.MediaRecord(id, "audio", Multimodal.flacBytes(
          sampleRate = (8000 * (1 + id % 5)).toInt,
          channels = (1 + id % 2).toInt,
          bitsPerSample = (16 + 8 * (id % 2)).toInt,
          totalSamples = 1000 + tlen % 50000,
          dataLen = (tlen % 300).toInt,
          withPadding = id % 3 == 0))
    }.toDF()
    Multimodal.probeMedia(s, media)
      .select(col("media_id"), col("codec"), col("n_bytes"),
        col("sample_rate"), col("channels"), col("duration_ms"), col("frames"))
      .orderBy(col("media_id"))
  }
  private val q116Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS tlen FROM documents),
      |m AS (SELECT id, (id // 2) % 2 = 0 AS m1, id % 3 AS bi, (id // 3) % 3 AS ri,
      |    3 + id % 20 AS fr, CASE WHEN id % 3 = 1 THEN 27 ELSE 0 END AS id3,
      |    CASE WHEN id % 4 = 0 THEN 1 ELSE 2 END AS ch
      |  FROM d WHERE id % 5 <> 0 AND id % 2 = 0),
      |m2 AS (SELECT id, fr, id3, ch,
      |    CASE WHEN m1 THEN [128,160,192][CAST(bi+1 AS INTEGER)]
      |         ELSE [80,96,112][CAST(bi+1 AS INTEGER)] END AS kbps,
      |    CASE WHEN m1 THEN [44100,48000,32000][CAST(ri+1 AS INTEGER)]
      |         ELSE [22050,24000,16000][CAST(ri+1 AS INTEGER)] END AS rate,
      |    CASE WHEN m1 THEN 1152 ELSE 576 END AS spf
      |  FROM m),
      |f AS (SELECT id, 8000 * (1 + id % 5) AS rate, 1 + id % 2 AS ch,
      |    1000 + tlen % 50000 AS ts,
      |    42 + CASE WHEN id % 3 = 0 THEN 10 ELSE 0 END + tlen % 300 AS nb
      |  FROM d WHERE id % 5 <> 0 AND id % 2 = 1),
      |st AS (SELECT id,
      |    CAST(octet_length(encode('au-' || CAST(id AS VARCHAR))) AS BIGINT) AS n
      |  FROM d WHERE id % 5 = 0)
      |SELECT id AS media_id, 'mp3' AS codec,
      |  CAST(id3 + fr * ((spf // 8) * (kbps * 1000) // rate) AS BIGINT) AS n_bytes,
      |  CAST(rate AS INTEGER) AS sample_rate, CAST(ch AS INTEGER) AS channels,
      |  CAST(fr * spf * 1000 // rate AS BIGINT) AS duration_ms,
      |  CAST(fr AS INTEGER) AS frames
      |FROM m2
      |UNION ALL
      |SELECT id, 'flac', CAST(nb AS BIGINT),
      |  CAST(rate AS INTEGER), CAST(ch AS INTEGER),
      |  CAST(ts * 1000 // rate AS BIGINT), CAST(0 AS INTEGER)
      |FROM f
      |UNION ALL
      |SELECT id, 'stub', n, CAST(n % 48000 AS INTEGER), CAST(n % 8 AS INTEGER),
      |  n, CAST(1 AS INTEGER)
      |FROM st
      |ORDER BY media_id""".stripMargin

  /** q119: VBR-aware compressed-audio probing — the q116 successor.
    * Xing- and VBRI-headed streams must report their DECLARED totals
    * (the O(1) head-probe path — at corpus scale only the stream head
    * is ever fetched), a headerless alternating-bitrate stream must
    * fall back to the frame walk, and unknown payloads keep the stub.
    * Fixture parameters are pure arithmetic in doc_id so the DuckDB
    * oracle reproduces every expected row exactly. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"))
    val media = ids.as[Long].map { id =>
      (id % 4).toInt match {
        case 0 =>
          Multimodal.MediaRecord(id, "audio", s"vau-$id".getBytes("UTF-8"))
        case 1 => Multimodal.MediaRecord(id, "audio", Multimodal.mp3BytesVbr(
          mpeg1 = (id / 2) % 2 == 0, rateIdx = ((id / 3) % 3).toInt,
          audioFrames = (2 + id % 5).toInt,
          declaredFrames = (50 + id % 1000).toInt,
          declaredBytes = 100000L + id * 37, kind = "xing",
          mono = id % 8 == 1, id3Size = if (id % 3 == 1) 17 else 0))
        case 2 => Multimodal.MediaRecord(id, "audio", Multimodal.mp3BytesVbr(
          mpeg1 = (id / 4) % 2 == 0, rateIdx = ((id / 5) % 3).toInt,
          audioFrames = (1 + id % 4).toInt,
          declaredFrames = (80 + id % 500).toInt,
          declaredBytes = 50000L + id * 21, kind = "vbri"))
        case _ => Multimodal.MediaRecord(id, "audio", Multimodal.mp3BytesVbr(
          mpeg1 = (id / 2) % 2 == 0, rateIdx = ((id / 7) % 3).toInt,
          audioFrames = (2 + id % 6).toInt,
          declaredFrames = 1, declaredBytes = 1L, kind = "none"))
      }
    }.toDF()
    Multimodal.probeMedia(s, media)
      .select(col("media_id"), col("codec"), col("n_bytes"),
        col("sample_rate"), col("channels"), col("duration_ms"), col("frames"))
      .orderBy(col("media_id"))
  }

  /** Oracle twin of [[q119]]: n_bytes is the exact stream layout
    * (optional ID3 + header frame at bitrate idx 9 + audio frames
    * alternating idx 9/11), durations integer-divide exactly as the
    * probe does. */
  private val q119Sql =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |x AS (SELECT id, (id // 2) % 2 = 0 AS m1, (id // 3) % 3 AS ri,
      |    2 + id % 5 AS af, 50 + id % 1000 AS dfr,
      |    CASE WHEN id % 8 = 1 THEN 1 ELSE 2 END AS ch,
      |    CASE WHEN id % 3 = 1 THEN 27 ELSE 0 END AS id3
      |  FROM d WHERE id % 4 = 1),
      |v AS (SELECT id, (id // 4) % 2 = 0 AS m1, (id // 5) % 3 AS ri,
      |    1 + id % 4 AS af, 80 + id % 500 AS dfr, 2 AS ch, 0 AS id3
      |  FROM d WHERE id % 4 = 2),
      |w AS (SELECT id, (id // 2) % 2 = 0 AS m1, (id // 7) % 3 AS ri,
      |    2 + id % 6 AS af, 2 AS ch, 0 AS id3
      |  FROM d WHERE id % 4 = 3),
      |x2 AS (SELECT id, dfr, ch, af, id3,
      |    CASE WHEN m1 THEN [44100,48000,32000][CAST(ri+1 AS INTEGER)]
      |         ELSE [22050,24000,16000][CAST(ri+1 AS INTEGER)] END AS rate,
      |    CASE WHEN m1 THEN 1152 ELSE 576 END AS spf,
      |    CASE WHEN m1 THEN 144 ELSE 72 END AS spf8,
      |    CASE WHEN m1 THEN 128000 ELSE 80000 END AS k9,
      |    CASE WHEN m1 THEN 192000 ELSE 112000 END AS k11
      |  FROM x),
      |v2 AS (SELECT id, dfr, ch, af, id3,
      |    CASE WHEN m1 THEN [44100,48000,32000][CAST(ri+1 AS INTEGER)]
      |         ELSE [22050,24000,16000][CAST(ri+1 AS INTEGER)] END AS rate,
      |    CASE WHEN m1 THEN 1152 ELSE 576 END AS spf,
      |    CASE WHEN m1 THEN 144 ELSE 72 END AS spf8,
      |    CASE WHEN m1 THEN 128000 ELSE 80000 END AS k9,
      |    CASE WHEN m1 THEN 192000 ELSE 112000 END AS k11
      |  FROM v),
      |w2 AS (SELECT id, ch, af, id3,
      |    CASE WHEN m1 THEN [44100,48000,32000][CAST(ri+1 AS INTEGER)]
      |         ELSE [22050,24000,16000][CAST(ri+1 AS INTEGER)] END AS rate,
      |    CASE WHEN m1 THEN 1152 ELSE 576 END AS spf,
      |    CASE WHEN m1 THEN 144 ELSE 72 END AS spf8,
      |    CASE WHEN m1 THEN 128000 ELSE 80000 END AS k9,
      |    CASE WHEN m1 THEN 192000 ELSE 112000 END AS k11
      |  FROM w),
      |st AS (SELECT id,
      |    CAST(octet_length(encode('vau-' || CAST(id AS VARCHAR))) AS BIGINT) AS n
      |  FROM d WHERE id % 4 = 0)
      |SELECT id AS media_id, 'mp3' AS codec,
      |  CAST(id3 + (1 + (af+1)//2) * (spf8*k9//rate)
      |    + (af//2) * (spf8*k11//rate) AS BIGINT) AS n_bytes,
      |  CAST(rate AS INTEGER) AS sample_rate, CAST(ch AS INTEGER) AS channels,
      |  CAST(dfr * spf * 1000 // rate AS BIGINT) AS duration_ms,
      |  CAST(dfr AS INTEGER) AS frames
      |FROM x2
      |UNION ALL
      |SELECT id, 'mp3',
      |  CAST(id3 + (1 + (af+1)//2) * (spf8*k9//rate)
      |    + (af//2) * (spf8*k11//rate) AS BIGINT),
      |  CAST(rate AS INTEGER), CAST(ch AS INTEGER),
      |  CAST(dfr * spf * 1000 // rate AS BIGINT), CAST(dfr AS INTEGER)
      |FROM v2
      |UNION ALL
      |SELECT id, 'mp3',
      |  CAST(id3 + (1 + (af+1)//2) * (spf8*k9//rate)
      |    + (af//2) * (spf8*k11//rate) AS BIGINT),
      |  CAST(rate AS INTEGER), CAST(ch AS INTEGER),
      |  CAST((af+1) * spf * 1000 // rate AS BIGINT), CAST(af+1 AS INTEGER)
      |FROM w2
      |UNION ALL
      |SELECT id, 'stub', n, CAST(n % 48000 AS INTEGER), CAST(n % 8 AS INTEGER),
      |  n, CAST(1 AS INTEGER)
      |FROM st
      |ORDER BY media_id""".stripMargin

  // q120 — q102's group-signature estimate grounded on a DETERMINISTIC
  // 1/4 hash-coin sample of the shingle space (Dedup.SampledGrounding):
  // the grounding distinct+self-join touch only sampled shingles, so
  // the corpus-linear cost of exact grounding shrinks by the coin rate
  // (1/1000 at 100 TB), while the estimate stays unbiased — the SAME
  // shingles are kept in every group. The oracle replays the coin
  // (hash60 of the shingle's decimal string) exactly.
  private def q120(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.groupMinhashJaccard(Tables.documents(s, dir),
        groupCol = "lang", idCol = "doc_id", textCol = "text",
        k = 16, shingleN = 3,
        grounding = graft.operators.Dedup.SampledGrounding(1, 4))
      .orderBy(col("ga"), col("gb"))
  private lazy val q120Sql =
    s"""$groupShinglesCtes
      |ss AS (SELECT lang, h FROM s
      |       WHERE ${dHash("CAST(h AS VARCHAR)")} % 4 < 1),
      |sig AS (SELECT lang, $groupMh FROM s GROUP BY lang),
      |n AS (SELECT lang, COUNT(*) AS n_sh FROM ss GROUP BY lang),
      |i AS (SELECT a.lang AS ga, b.lang AS gb, COUNT(*) AS ni
      |      FROM ss a JOIN ss b ON a.h = b.h AND a.lang < b.lang GROUP BY 1, 2)
      |${groupJaccardSelect("sampled_jaccard")}""".stripMargin

  // q121 — substring-level dedup: per-doc duplicated 5-gram span
  // coverage (Dedup.substringDupSpans). The third dedup granularity:
  // q29 removes byte-identical documents, q30 near-identical ones —
  // this one measures how much of each SURVIVING document is built
  // from token spans that also appear in other documents (boilerplate,
  // quoted blocks, templates), which is what span-level contamination
  // filters act on. Three linear shuffles, no pair product; the
  // DuckDB oracle replays the rolling 5-gram hash and the running-max
  // interval merge exactly.
  private def q121(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.substringDupSpans(
        Tables.documents(s, dir), "doc_id", "text", gramN = 5)
      .withColumn("n_tokens", col("n_tokens").cast("long"))
      .orderBy(col("doc_id"))
  private val q121Sql = {
    // rolling fold over 5 token hashes, mirroring gramHashes(_, 5)
    val gh = (2 to 5).foldLeft("th[i]") { (acc, j) =>
      s"(($acc * 65599 + th[i+${j - 1}]) % 4294967311)"
    } + " % 4294967296"
    s"""WITH t AS (SELECT doc_id, $dTokens AS toks FROM documents),
      |th AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM t),
      |g AS (SELECT doc_id, i AS pos, $gh AS gh
      |      FROM th, UNNEST(generate_series(1, greatest(len(th) - 4, 0))) AS u(i)),
      |d AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1),
      |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gh)),
      |m AS (SELECT doc_id, pos,
      |  max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM p),
      |c AS (SELECT doc_id, COUNT(*) AS n_dup_grams,
      |  SUM(greatest(0, pos + 4 - greatest(COALESCE(prev_end, -1), pos - 1))) AS covered_tokens
      |  FROM m GROUP BY doc_id)
      |SELECT th.doc_id, th.n_tokens,
      |  COALESCE(c.n_dup_grams, 0) AS n_dup_grams,
      |  CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
      |  CASE WHEN th.n_tokens > 0
      |    THEN CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE) / th.n_tokens
      |    ELSE 0.0 END AS dup_fraction
      |FROM th LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q230 — FEATURE-HASHED CHUNK RETRIEVAL ([[graft.operators
  // .FeatureHashing]] ∘ [[graft.operators.Chunking]]): the model-free
  // RAG-shaped composition — documents chunk into 64-token windows,
  // every chunk becomes a SIGNED hashed sparse vector (the hashing
  // trick: bucket = h(tok) % 512, sign from an independent hash bit —
  // inner products unbiased, no vocabulary, no trained embedder), and
  // each query doc retrieves its top-3 chunks by sparse cosine: dots
  // from a bucket join against the broadcast query side (the corpus
  // never shuffles for the join), norms exact integer sums, rank in
  // the map-side-partial top-k shape. Weights/dots/norm² are exact
  // integers; only the final cosine divides in doubles — the oracle
  // replays chunking (1-based clamped list slices), hashing, signs,
  // sparse dots, and the rank bit-identically.
  private def q230(s: SparkSession, dir: String): DataFrame = {
    val FH = graft.operators.FeatureHashing
    val docs = Tables.documents(s, dir)
    val chunks = graft.operators.Chunking.chunkByTokens(
      docs.filter(col("doc_id") >= 3), "doc_id", "text",
      chunkTokens = 64, strideTokens = 64)
      .select((col("doc_id") * 1000000L + col("chunk_id")).as("chunk_key"),
        col("chunk_text"))
    val corpusFeats = FH.hashedTf(chunks, "chunk_key", "chunk_text", dim = 512)
    val queryFeats = FH.hashedTf(
      docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text")),
      "query_id", "text", dim = 512)
    FH.cosineTopK(corpusFeats, queryFeats, "chunk_key", "query_id", k = 3)
      .orderBy(col("query_id"), col("rank"))
  }
  /** q230/q231's hashed-cosine retrieval tail, given `toks(doc_id, t)`
    * and the corpus tokens `ctok(key, tok)`: queries = docs < 3, signed
    * hashed tf (dim 512), cosine top-`k` per query. Unstripped. */
  private def hashedCosineTopKCtes(key: String, k: Int): String = {
    def feats(tokSrc: String, keyCol: String) =
      s"""SELECT $keyCol, bucket, w FROM (
         |  SELECT $keyCol, ${dHash("tok")} % 512 AS bucket,
         |    CAST(SUM(CASE WHEN ${dHash("'s:' || tok")} % 2 = 0
         |      THEN 1 ELSE -1 END) AS BIGINT) AS w
         |  FROM $tokSrc GROUP BY 1, 2) WHERE w <> 0""".stripMargin
    s"""qtok AS (SELECT doc_id AS query_id, unnest(t) AS tok
       |  FROM toks WHERE doc_id < 3),
       |cf AS (${feats("ctok", key)}),
       |qf AS (${feats("qtok", "query_id")}),
       |cn AS (SELECT $key, CAST(SUM(w * w) AS BIGINT) AS cn2
       |  FROM cf GROUP BY 1),
       |qn AS (SELECT query_id, CAST(SUM(w * w) AS BIGINT) AS qn2
       |  FROM qf GROUP BY 1),
       |dots AS (SELECT q.query_id, c.$key,
       |    CAST(SUM(c.w * q.w) AS BIGINT) AS dot
       |  FROM cf c JOIN qf q ON c.bucket = q.bucket GROUP BY 1, 2),
       |sc AS (SELECT d.query_id, d.$key, CAST(dot AS DOUBLE)
       |      / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))
       |      AS cosine
       |  FROM dots d JOIN cn ON d.$key = cn.$key
       |  JOIN qn ON d.query_id = qn.query_id),
       |rk AS (SELECT query_id, $key, cosine, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, $key) AS rank
       |  FROM sc)
       |SELECT query_id, rank, $key, cosine FROM rk
       |WHERE rank <= $k ORDER BY query_id, rank"""
  }
  private[queries] lazy val q230Sql =
    s"""WITH toks AS (SELECT doc_id, $dTokens AS t FROM documents),
       |ch AS (SELECT doc_id, CAST((u.s - 1) // 64 AS BIGINT) AS chunk_id,
       |    t[u.s : u.s + 63] AS ct
       |  FROM toks, UNNEST(generate_series(1, len(t), 64)) u(s)
       |  WHERE doc_id >= 3),
       |ctok AS (SELECT doc_id * 1000000 + chunk_id AS chunk_key,
       |    unnest(ct) AS tok FROM ch),
       |${hashedCosineTopKCtes("chunk_key", 3)}""".stripMargin

  /** q231/q232 shared oracle: doc-level hashed-cosine retrieval over
    * the surviving corpus (`corpusWhere`), queries = docs < 3, k = 5,
    * dim = 512 — the q230 chain minus the chunking. */
  private def hashedStoreSqlFor(corpusWhere: String) =
    s"""WITH toks AS (SELECT doc_id, $dTokens AS t FROM documents),
       |ctok AS (SELECT doc_id, unnest(t) AS tok FROM toks
       |  WHERE $corpusWhere),
       |${hashedCosineTopKCtes("doc_id", 5)}""".stripMargin

  // ---------------------------------------------------------------
  // q231 — HASHED-FEATURE STORE LIFECYCLE ([[graft.operators
  // .FeatureHashing.writeHashedStore]] + the q189 discipline): the
  // retrieval index persists its (id, bucket, weight) rows once
  // (dim pinned in a `_dim` meta — a mismatched serve would not fail,
  // it would silently score zero overlap); a takedown tombstones the
  // doc_id % 5 = 0 sub-slice (mask-on-read, registered in the
  // [[graft.operators.Erasure]] fan-out as `HashedTfStore`); the
  // masked serve and the post-purge serve are row-identical in-plan.
  // Oracle: the q230 doc-level chain over the remaining corpus.
  private def q231(s: SparkSession, dir: String): DataFrame = {
    val FH = graft.operators.FeatureHashing
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") >= 3)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    StoreGates.withTempStore(s, "graft_q231_hstore") { root =>
      // independent appends (distinct batch ids; the _dim meta commit
      // is race-hardened) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => FH.writeHashedStore(corpus.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", dim = 512, root, batchId = 1L),
        () => FH.writeHashedStore(corpus.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", dim = 512, root, batchId = 2L)))
      FH.deleteFromHashedStore(
        corpus.filter(col("doc_id") % 5 === 0).select(col("doc_id")),
        "doc_id", root, batchId = 3L)
      def serve() = FH.hashedTopKFromStore(s, root, queries,
        "query_id", "text", "doc_id", k = 5)
      val masked = serve()
      FH.purgeHashedStore(s, root, "doc_id", newBatchId = 4L)
      val purged = serve()
      StoreGates.compactionIdentityGate(masked, purged,
          "hashed-store purge changed the served retrieval")
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  private lazy val q231Sql =
    hashedStoreSqlFor("doc_id >= 3 AND doc_id % 5 <> 0")

  // ---------------------------------------------------------------
  // q232 — STREAMED HASHED-STORE MAINTENANCE ([[graft.operators
  // .FeatureHashing.hashedStoreSink]]): the exactly-once foreachBatch
  // epoch discipline on the retrieval index — two corpus slices land
  // one per micro-batch through the checkpointed file source, each
  // epoch appending its feature delta (replay no-ops). Features are
  // per-doc rows, so the served retrieval is epoch-chunking-
  // independent: the oracle is the single-shot q231 chain with no
  // deletions.
  private def q232(s: SparkSession, dir: String): DataFrame = {
    val FH = graft.operators.FeatureHashing
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") >= 3)
      .select(col("doc_id"), col("text"))
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    StoreGates.withStreamedStore(s, "graft_q232",
      slices = Seq(corpus.filter(col("doc_id") % 2 === 0),
        corpus.filter(col("doc_id") % 2 === 1)),
      sink = store => FH.hashedStoreSink("doc_id", "text", dim = 512, store)
    ) { store =>
      FH.hashedTopKFromStore(s, store, queries,
          "query_id", "text", "doc_id", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }
  }
  private lazy val q232Sql = hashedStoreSqlFor("doc_id >= 3")

  // ---------------------------------------------------------------
  // q234 — HASHING-TRICK RECALL ([[graft.operators.FeatureHashing
  // .exactTf]] as truth): the measured cost of the dim-bounded key
  // space — per query, the exact bag-of-words TF-cosine top-5 (token
  // strings as buckets, exact integer counts) against the dim=64
  // hashed top-5; output n_hits and recall. dim deliberately SMALL so
  // collisions actually bite and the gate pins a real degradation
  // number, not a vacuous 1.0 (the q110 IVF-recall discipline).
  // Everything is deterministic: both rankings tie-break on doc id,
  // recall is a single exact division.
  private def q234(s: SparkSession, dir: String): DataFrame = {
    val FH = graft.operators.FeatureHashing
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") >= 3)
      .select(col("doc_id"), col("text"))
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val truth = FH.cosineTopK(FH.exactTf(corpus, "doc_id", "text"),
      FH.exactTf(queries, "query_id", "text"), "doc_id", "query_id", k = 5)
    val approx = FH.cosineTopK(FH.hashedTf(corpus, "doc_id", "text", 64),
      FH.hashedTf(queries, "query_id", "text", 64), "doc_id", "query_id",
      k = 5)
    truth.select(col("query_id"), col("doc_id"))
      .join(approx.select(col("query_id"), col("doc_id"))
        .withColumn("__hit", lit(1L)), Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_truth").cast("double"))
      .orderBy(col("query_id"))
  }
  private lazy val q234Sql = {
    def feats(tokSrc: String, keyCol: String) =
      s"""SELECT $keyCol, bucket, w FROM (
         |  SELECT $keyCol, ${dHash("tok")} % 64 AS bucket,
         |    CAST(SUM(CASE WHEN ${dHash("'s:' || tok")} % 2 = 0
         |      THEN 1 ELSE -1 END) AS BIGINT) AS w
         |  FROM $tokSrc GROUP BY 1, 2) WHERE w <> 0""".stripMargin
    def exact(tokSrc: String, keyCol: String) =
      s"""SELECT $keyCol, tok AS bucket, CAST(COUNT(*) AS BIGINT) AS w
         |FROM $tokSrc GROUP BY 1, 2""".stripMargin
    def rank(cf: String, qf: String, alias: String) =
      s"""$alias AS (SELECT query_id, doc_id FROM (
         |  SELECT d.query_id, d.doc_id, row_number() OVER (
         |      PARTITION BY d.query_id ORDER BY CAST(d.dot AS DOUBLE)
         |        / (sqrt(CAST(cn.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE)))
         |        DESC, d.doc_id) AS rnk
         |  FROM (SELECT q.query_id, c.doc_id,
         |      CAST(SUM(c.w * q.w) AS BIGINT) AS dot
         |    FROM $cf c JOIN $qf q ON c.bucket = q.bucket GROUP BY 1, 2) d
         |  JOIN (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
         |    FROM $cf GROUP BY 1) cn ON d.doc_id = cn.doc_id
         |  JOIN (SELECT query_id, CAST(SUM(w * w) AS BIGINT) AS n2
         |    FROM $qf GROUP BY 1) qn ON d.query_id = qn.query_id)
         |  WHERE rnk <= 5)""".stripMargin
    s"""WITH toks AS (SELECT doc_id, $dTokens AS t FROM documents),
       |ctok AS (SELECT doc_id, unnest(t) AS tok FROM toks WHERE doc_id >= 3),
       |qtok AS (SELECT doc_id AS query_id, unnest(t) AS tok
       |  FROM toks WHERE doc_id < 3),
       |cfe AS (${exact("ctok", "doc_id")}),
       |qfe AS (${exact("qtok", "query_id")}),
       |cfh AS (${feats("ctok", "doc_id")}),
       |qfh AS (${feats("qtok", "query_id")}),
       |${rank("cfe", "qfe", "truth")},
       |${rank("cfh", "qfh", "approx")}
       |SELECT t.query_id, COUNT(*) AS n_truth,
       |  CAST(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  CAST(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.doc_id = a.doc_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q238 — STREAMED NEAR-DUP ADMISSION ([[graft.operators.Dedup
  // .nearDupAdmitSink]]): the daily crawl-refresh loop as an
  // exactly-once stream — each epoch's slice admits only documents
  // with no exact NOR near (banded MinHash, Jaccard ≥ 0.5) duplicate
  // among PRIOR epochs' ADMITTED content, keeps the min-id among
  // in-slice exact dups, and appends the admitted signatures, so a
  // rejected near-rewrite never suppresses anything and a re-crawl
  // of admitted content stays out forever. Slices arrive in epoch
  // order (pinned-mtime staging — arrival order is semantic, the
  // q221 discipline). Oracle: the 3-epoch fold unrolled over the
  // q128 MinHash chain — each epoch's exact/band/Jaccard checks run
  // against the UNION of prior epochs' admitted sets only.
  private def q238(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("__epoch", col("doc_id") % 3)
    StoreGates.withTempStore(s, "graft_q238_neardup") { base =>
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      val stager = new StoreGates.PinnedMtimeStager(s, p("stage"))
      (0L to 2L).foreach(e =>
        stager.stageSlice(docs.filter(col("__epoch") === e).drop("__epoch")))
      StoreGates.drainFileStream(s, docs.drop("__epoch").schema,
          stager.stage, p("ckpt"))(
        graft.operators.Dedup.nearDupAdmitSink("doc_id", "text",
          k = 16, shingleN = 3, bands = 8, threshold = 0.5,
          sigRoot = p("sig"), keptRoot = p("kept")))
      graft.operators.BatchStore.read(s, p("kept"))
        .select(col("doc_id"), (col("batch") - 1).cast("long").as("epoch"))
        .orderBy(col("doc_id"))
        .transform(Checkpoints.pin) // owns the data; the temp stores delete now
    }
  }
  private val q238Sql = {
    import graft.operators.Dedup.{minhashPermA, minhashPermB, MinhashPrime}
    val mh = (0 until 16).map(j =>
      s"list_min(list_transform(hs, h -> (${minhashPermA(j)} * h + ${minhashPermB(j)}) % $MinhashPrime)) AS mh$j")
      .mkString(",\n ")
    val bandSelects = (0 until 8).map(b =>
      s"SELECT doc_id, epoch, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sigs")
      .mkString("\n UNION ALL ")
    val jac = "CAST(len(list_intersect(sb.hs, sh.hs)) AS DOUBLE) / " +
      "(len(sb.hs) + len(sh.hs) - len(list_intersect(sb.hs, sh.hs)))"
    // one epoch's fold step: exact + near checks against the admitted
    // CTE `prior`, then the in-slice min-id exact keeper
    def fold(e: Int, prior: String): String =
      s"""ex$e AS (SELECT DISTINCT b.doc_id FROM t b
        |  JOIN t h ON b.chash = h.chash
        |  JOIN $prior a ON a.doc_id = h.doc_id WHERE b.epoch = $e),
        |cand$e AS (SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
        |  FROM bk b JOIN bk h ON b.band = h.band AND b.key = h.key
        |  JOIN $prior a ON a.doc_id = h.doc_id WHERE b.epoch = $e),
        |near$e AS (SELECT DISTINCT c.bid FROM cand$e c
        |  JOIN hb sb ON c.bid = sb.doc_id
        |  JOIN hb sh ON c.hid = sh.doc_id WHERE $jac >= 0.5),
        |adm$e AS (SELECT doc_id FROM (
        |  SELECT b.doc_id, row_number() OVER (
        |      PARTITION BY b.chash ORDER BY b.doc_id) AS rn
        |  FROM t b WHERE b.epoch = $e
        |    AND b.doc_id NOT IN (SELECT doc_id FROM ex$e)
        |    AND b.doc_id NOT IN (SELECT bid FROM near$e)) WHERE rn = 1)"""
        .stripMargin
    s"""WITH t AS (SELECT doc_id, doc_id % 3 AS epoch,
      |  md5(text) AS chash, $dTokens AS toks FROM documents),
      |th AS (SELECT doc_id, epoch,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM t),
      |hb AS (SELECT doc_id, epoch,
      |  list_distinct(list_transform(range(1, len(th) - 1),
      |    i -> ((((th[i] * 65599 + th[i+1]) % 4294967311) * 65599 + th[i+2]) % 4294967311) % 4294967296)) AS hs
      |  FROM th),
      |sigs AS (SELECT doc_id, epoch, hs, $mh FROM hb WHERE len(hs) > 0),
      |bk AS ($bandSelects),
      |adm0 AS (SELECT doc_id FROM (
      |  SELECT doc_id, row_number() OVER (
      |      PARTITION BY chash ORDER BY doc_id) AS rn
      |  FROM t WHERE epoch = 0) WHERE rn = 1),
      |${fold(1, "adm0")},
      |admh AS (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1),
      |${fold(2, "admh")}
      |SELECT doc_id, epoch FROM (
      |  SELECT doc_id, CAST(0 AS BIGINT) AS epoch FROM adm0
      |  UNION ALL SELECT doc_id, 1 FROM adm1
      |  UNION ALL SELECT doc_id, 2 FROM adm2)
      |ORDER BY doc_id""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q238_neardup_admission_streamed", q238, Some(q238Sql)),
    QueryDef("q239_bloom_pruned_dedup", q239, Some(q239Sql)),
    QueryDef("q240_wav_pcm_decode", q240, Some(q240Sql)),
    QueryDef("q242_wav_energy_windows", q242, Some(q242Sql)),
    QueryDef("q230_hashed_retrieval", q230, Some(q230Sql)),
    QueryDef("q231_hashed_store", q231, Some(q231Sql)),
    QueryDef("q232_hashed_streamed", q232, Some(q232Sql)),
    QueryDef("q234_hashing_recall", q234, Some(q234Sql)),
    QueryDef("q121_substring_dedup", q121, Some(q121Sql)),
    QueryDef("q108_av_containers", q108, Some(q108Sql)),
    QueryDef("q116_compressed_audio", q116, Some(q116Sql)),
    QueryDef("q119_vbr_audio", q119, Some(q119Sql)),
    QueryDef("q120_sampled_grounding", q120, Some(q120Sql)),
    QueryDef("q114_frame_sample_probed", q114, Some(q114Sql)),
    QueryDef("q115_frame_sample_exact", q115, Some(q115Sql)),
    QueryDef("q111_image_stats", q111, Some(q111Sql)),
    QueryDef("q25_text_stats", q25, Some(q25Sql)),
    QueryDef("q97_frame_sample", q97, Some(q97Sql)),
    QueryDef("q102_group_signature", q102, Some(q102Sql)),
    QueryDef("q66_pii_redaction", q66, Some(q66Sql)),
    QueryDef("q68_chunking", q68, Some(q68Sql)),
    QueryDef("q69_keywords", q69, Some(q69Sql)),
    QueryDef("q59_dedup_clusters", q59, Some(q59Sql)),
    QueryDef("q125_cluster_split", q125, Some(q125Sql)),
    QueryDef("q128_incremental_dedup", q128, Some(q128Sql)),
    QueryDef("q129_source_contribution", q129, Some(q129Sql)),
    QueryDef("q130_text_embed_neardup", q130, Some(q130Sql)),
    QueryDef("q131_embed_lsh_neardup", q131, Some(q131Sql)),
    QueryDef("q134_incremental_from_store", q134, Some(q134Sql)),
    QueryDef("q138_inverted_index", q138, Some(q138Sql)),
    QueryDef("q140_canonical_by_quality", q140, Some(q140Sql)),
    QueryDef("q141_source_overlap", q141, Some(q141Sql)),
    QueryDef("q144_phrase_search", q144, Some(q144Sql)),
    QueryDef("q145_kmv_distinct", q145, Some(q145Sql)),
    QueryDef("q147_adaptive_quality_cutoff", q147, Some(q147Sql)),
    QueryDef("q139_term_search", q139, Some(q139Sql)),
    QueryDef("q151_ranked_search", q151, Some(q151Sql)),
    QueryDef("q153_bm25_search", q153, Some(q153Sql)),
    QueryDef("q154_ngram_repetition", q154, Some(q154Sql)),
    QueryDef("q155_containment", q155, Some(q155Sql)),
    QueryDef("q156_semantic_decontamination", q156, Some(q156Sql)),
    QueryDef("q159_posting_store_search", q159, Some(q159Sql)),
    QueryDef("q169_posting_compacted", q169, Some(q169Sql)),
    QueryDef("q174_posting_export", q174, Some(q174Sql)),
    QueryDef("q172_lsh_passage_retrieval", q172, Some(q172Sql)),
    QueryDef("q177_posting_store_streamed", q177, Some(q177Sql)),
    QueryDef("q180_posting_tombstones", q180, Some(q180Sql)),
    QueryDef("q181_bigram_lm", q181, Some(q181Sql)),
    QueryDef("q182_lm_store", q182, Some(q182Sql)),
    QueryDef("q183_decontaminate_streamed", q183, Some(q183Sql)),
    QueryDef("q184_stupid_backoff", q184, Some(q184Sql)),
    QueryDef("q185_langid_trained", q185, Some(q185Sql)),
    QueryDef("q188_signature_erasure", q188, Some(q188Sql)),
    QueryDef("q189_lm_store_erasure", q189, Some(q189Sql)),
    QueryDef("q190_backoff_from_store", q190, Some(q190Sql)),
    QueryDef("q191_langid_erasure", q191, Some(q191Sql)),
    QueryDef("q192_trigram_backoff", q192, Some(q192Sql)),
    QueryDef("q193_lsh_mmr_rerank", q193, Some(q193Sql)),
    QueryDef("q194_lm_store_streamed", q194, Some(q194Sql)),
    QueryDef("q197_maxsim_rerank", q197, Some(q197Sql)),
    QueryDef("q198_token_index_store", q198, Some(q198Sql)),
    QueryDef("q199_token_index_erasure", q199, Some(q199Sql)),
    QueryDef("q200_token_index_streamed", q200, Some(q200Sql)),
    QueryDef("q204_token_index_int8", q204, Some(q204Sql)),
    QueryDef("q160_passage_retrieval", q160, Some(q160Sql)),
    QueryDef("q161_bm25_store", q161, Some(q161Sql)),
    QueryDef("q215_prf_expansion", q215, Some(q215Sql)),
    QueryDef("q162_split_leakage_audit", q162, Some(q162Sql)),
    QueryDef("q163_jsonl_roundtrip", q163, Some(q163Sql)),
    QueryDef("q164_mmr_rerank", q164, Some(q164Sql)),
    QueryDef("q166_jsonl_streamed", q166, Some(q166Sql)),
    QueryDef("q168_orc_roundtrip", q168, Some(q168Sql)),
    QueryDef("q171_image_resize", q171, Some(q171Sql)),
    QueryDef("q60_decontaminate", q60, Some(q60Sql)),
    QueryDef("q61_repetition", q61, Some(q61Sql)),
    QueryDef("q63_curation_pipeline", q63, Some(q63Sql)),
    QueryDef("q26_quality_score", q26, Some(q26Sql)),
    QueryDef("q27_lang_id", q27, Some(q27Sql)),
    QueryDef("q28_fingerprint", q28, Some(q28Sql)),
    QueryDef("q29_dedup_exact", q29, Some(q29Sql)),
    QueryDef("q30_minhash_lsh", q30, Some(q30Sql)),
    QueryDef("q31_simhash", q31, Some(q31Sql)),
    QueryDef("q32_ngram_jaccard", q32, Some(q32Sql)),
    QueryDef("q33_multimodal_stub", q33, Some(q33Sql)),
    QueryDef("q45_bpe_tokens", q45, Some(q45Sql)),
  )
}
