package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._

/** q220: CROSS-STORE ERASURE ([[graft.operators.Erasure]]) — one
  * "forget these ids everywhere" call fanned across every persisted
  * doc-derived store, then one purge window, then every store's
  * post-purge key/mass surface in a single frame the DuckDB oracle
  * recomputes FROM THE REMAINING CORPUS. The q189–q192 per-store
  * lifecycle gates pin each store's served VALUES after erasure;
  * this gate pins the COMPOSITION — one store skipped by the fan-out,
  * one store whose negated delta used different rows than the others
  * (the non-determinism hazard the shared pin exists for), or one
  * compaction that kept forgotten mass, and that store's row breaks.
  */
object ErasureQueries {
  import TextQueries.{dHash, dTokensOf}

  /** The slice written into every store. */
  private val writtenF = "doc_id % 2 = 0"
  /** The forgotten sub-slice. */
  private val forgotF = "doc_id % 2 = 0 AND doc_id % 10 = 0"
  /** What the oracle replays everything from. */
  private val remainF = "doc_id % 2 = 0 AND doc_id % 10 <> 0"

  // ---------------------------------------------------------------
  // q220 — build 9 stores from the even-id corpus slice (one append
  // each; per-store append/serve ceremony is gated elsewhere), ONE
  // Erasure.forget of the %10 sub-slice (all stores, one pinned
  // erased frame, one batch id), ONE Erasure.purgeEverywhere, then
  // each store's physically-remaining key count and mass. The PQ
  // store erases by VECTOR id (the embeddings table), exercising the
  // vecIds leg of the fan-out.
  private def q220(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(expr(writtenF))
    val vecs = Tables.embeddings(s, dir).filter(col("vec_id") % 2 === 0)
    StoreGates.withTempStore(s, "graft_q220_all") { base =>
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      val stores = Seq[Erasure.StoreRef](
        Erasure.SignatureStore(p("sig")),
        Erasure.PostingStore(p("post")),
        Erasure.TokenIndexStore(p("ti")),
        Erasure.PqStore(p("pq")),
        Erasure.LmStore(p("lm")),
        Erasure.LangIdStore(p("lid"), "lang"),
        Erasure.LineDfStore(p("ldf"), "source"),
        Erasure.DsirTargetStore(p("dsir"), buckets = 64),
        Erasure.QualityStore(p("qual"), "lang", buckets = 64))

      // one append per store — the nine builds are INDEPENDENT
      // (distinct roots), so they overlap (guide §2.6, r18: the
      // sequential chain paid nine straggler tails; the PQ codebook
      // rides inside its own task)
      val pinnedDocs = docs.localCheckpoint()
      var cb: DataFrame = null
      ParallelJobs.run(Seq(
        () => Dedup.writeSignatureStore(pinnedDocs, "doc_id", "text", k = 8,
          shingleN = 3, root = p("sig"), batchId = 1L),
        () => InvertedIndex.writePostingStore(pinnedDocs, "doc_id", "text",
          p("post"), 1L),
        () => LateInteraction.writeTokenIndex(pinnedDocs, "doc_id", "text",
          dim = 8, p("ti"), batchId = 1L),
        () => {
          cb = Similarity.pqCodebook(
            Similarity.pqSeeds(vecs, "vec_id", centroids = 8),
            "vec_id", "embedding", dim = 64, m = 4)
            .localCheckpoint() // feeds the write; released before return
          Similarity.writePqIndex(vecs, cb, "vec_id", "embedding",
            dim = 64, m = 4, p("pq"), batchId = 1L)
        },
        () => LanguageModel.writeLmStore(pinnedDocs, "doc_id", "text",
          p("lm"), 1L),
        () => LanguageModel.writeLangIdStore(pinnedDocs, "lang", "text",
          p("lid"), 1L),
        () => Boilerplate.writeLineDfStore(pinnedDocs, "doc_id", "source",
          "text", p("ldf"), 1L),
        () => DataSelection.writeDsirTargetStore(pinnedDocs, "doc_id", "text",
          buckets = 64, root = p("dsir"), batchId = 1L),
        () => QualityClassifier.writeQualityStore(pinnedDocs, "lang", "text",
          buckets = 64, root = p("qual"), batchId = 1L)))

      // the composed takedown: one call, every store
      Erasure.forget(docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", stores, batchId = 2L,
        vecIds = Some((vecs.filter(col("vec_id") % 10 === 0), "vec_id")))
      Erasure.purgeEverywhere(s, stores, "doc_id", newBatchId = 3L,
        vecIdCol = "vec_id")
      Checkpoints.releasePinned(cb)
      Checkpoints.releasePinned(pinnedDocs)

      // post-purge physical surface, one (store, metric, value) frame
      val sig = BatchStore.read(s, p("sig"))
      val post = BatchStore.read(s, p("post"))
      val stats = InvertedIndex.postingStoreStats(s, p("post"))
      val ti = BatchStore.read(s, p("ti"))
      val pq = BatchStore.read(s, p("pq"))
      val lm = BatchStore.read(s, p("lm"))
      val lid = BatchStore.read(s, p("lid"))
      val ldf = BatchStore.read(s, p("ldf"))
      val dsir = BatchStore.read(s, p("dsir"))
      val qual = BatchStore.read(s, p("qual"))
      def one(store: String, metric: String, df: DataFrame): DataFrame =
        df.select(lit(store).as("store"), lit(metric).as("metric"),
          col(df.columns.head).cast("long").as("value"))
      val out = Seq(
        one("signatures", "rows", sig.agg(count(lit(1)))),
        one("postings", "rows", post.agg(count(lit(1)))),
        one("postings", "tf_mass", post.agg(sum(col("tf")))),
        one("postings", "n_docs_stat", stats.select(col("n_docs"))),
        one("token_index", "passages",
          ti.agg(countDistinct(col("doc_id")))),
        one("pq", "vectors", pq.agg(countDistinct(col("vec_id")))),
        one("pq", "rows", pq.agg(count(lit(1)))),
        one("lm", "keys", lm.agg(count(lit(1)))),
        one("lm", "mass", lm.agg(sum(col("cnt")))),
        one("langid", "keys", lid.agg(count(lit(1)))),
        one("langid", "mass", lid.agg(sum(col("cnt")))),
        one("line_df", "keys", ldf.agg(count(lit(1)))),
        one("line_df", "mass", ldf.agg(sum(col("cnt")))),
        one("dsir_target", "keys", dsir.agg(count(lit(1)))),
        one("dsir_target", "mass", dsir.agg(sum(col("cnt")))),
        one("quality", "keys", qual.agg(count(lit(1)))),
        one("quality", "mass", qual.agg(sum(col("cnt")))))
        .reduce(_.unionByName(_))
        .orderBy(col("store"), col("metric"))
        .localCheckpoint() // owns the data; the temp stores delete now
      out
    }
  }

  private val q220Sql = {
    val toks = dTokensOf("text")
    s"""WITH rem AS (SELECT doc_id, text, lang, source FROM documents
      |  WHERE $remainF),
      |tok AS (SELECT doc_id, lang, source, $toks AS t FROM rem),
      |-- postings: one row per (doc, distinct token); tf mass = token count
      |ptok AS (SELECT doc_id, unnest(t) AS token FROM tok),
      |-- lm bigrams over remaining docs
      |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |  FROM tok, unnest(generate_series(1, len(t) - 1)) u(i)
      |  WHERE len(t) >= 2),
      |-- langid char trigrams over remaining docs
      |tri AS (SELECT lang, substr(text, CAST(i AS INTEGER), 3) AS tri
      |  FROM rem, unnest(generate_series(1, length(text) - 2)) u(i)
      |  WHERE length(text) >= 3),
      |-- line-df: distinct (source, line-hash) per doc
      |lines AS (SELECT DISTINCT doc_id, source, ${dHash("line")} AS lh
      |  FROM (SELECT doc_id, source, unnest(string_split(text, chr(10))) AS line
      |        FROM rem)),
      |-- hashed uni+bigram features (dsir buckets / quality (label, bucket))
      |grams AS (SELECT doc_id, lang, token AS g FROM
      |    (SELECT doc_id, lang, unnest(t) AS token FROM tok)
      |  UNION ALL
      |  SELECT doc_id, lang, t[i] || ' ' || t[i+1]
      |  FROM tok, unnest(generate_series(1, len(t) - 1)) u(i)
      |  WHERE len(t) >= 2),
      |feats AS (SELECT doc_id, lang, ${dHash("g")} % 64 AS bucket FROM grams),
      |remv AS (SELECT vec_id FROM embeddings
      |  WHERE vec_id % 2 = 0 AND vec_id % 10 <> 0),
      |-- posting-store stats sidecar: written minus erased raw doc counts
      |nstat AS (SELECT (SELECT COUNT(*) FROM documents WHERE $writtenF)
      |           - (SELECT COUNT(*) FROM documents WHERE $forgotF) AS n)
      |SELECT * FROM (
      |  SELECT 'signatures' AS store, 'rows' AS metric,
      |    CAST(COUNT(*) AS BIGINT) AS value FROM rem
      |  UNION ALL SELECT 'postings', 'rows',
      |    COUNT(*) FROM (SELECT DISTINCT doc_id, token FROM ptok)
      |  UNION ALL SELECT 'postings', 'tf_mass', COUNT(*) FROM ptok
      |  UNION ALL SELECT 'postings', 'n_docs_stat', n FROM nstat
      |  UNION ALL SELECT 'token_index', 'passages',
      |    COUNT(DISTINCT doc_id) FROM ptok
      |  UNION ALL SELECT 'pq', 'vectors', COUNT(*) FROM remv
      |  UNION ALL SELECT 'pq', 'rows', 4 * COUNT(*) FROM remv
      |  UNION ALL SELECT 'lm', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT w1, w2 FROM bg)
      |  UNION ALL SELECT 'lm', 'mass', COUNT(*) FROM bg
      |  UNION ALL SELECT 'langid', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT lang, tri FROM tri)
      |  UNION ALL SELECT 'langid', 'mass', COUNT(*) FROM tri
      |  UNION ALL SELECT 'line_df', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT source, lh FROM lines)
      |  UNION ALL SELECT 'line_df', 'mass', COUNT(*) FROM lines
      |  UNION ALL SELECT 'dsir_target', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT bucket FROM feats)
      |  UNION ALL SELECT 'dsir_target', 'mass', COUNT(*) FROM feats
      |  UNION ALL SELECT 'quality', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT lang, bucket FROM feats)
      |  UNION ALL SELECT 'quality', 'mass', COUNT(*) FROM feats)
      |ORDER BY store, metric""".stripMargin
  }

  // ---------------------------------------------------------------
  // q237 — THE COMPLETE REGISTRY IN ONE TAKEDOWN: every StoreRef kind
  // [[graft.operators.Erasure]] registers (all 14 — q220's nine plus
  // IVF-PQ, Hamming, ledger, kept corpus, hashed features) built from
  // the same even-id slice, ONE `Erasure.forget` of the %10
  // sub-slice, ONE `purgeEverywhere` window, then every store's
  // physically-remaining surface in a single frame the DuckDB oracle
  // recomputes FROM THE REMAINING CORPUS. q220 pins the original
  // composition; this gate pins that NO registered kind escapes the
  // one-call fan-out — and [[fullRegistry]] is the one list both this
  // gate and ErasureSpec's structural coverage check consume, so a
  // new StoreRef added without gate coverage fails the spec, not a
  // code review.
  /** One ref per registered [[Erasure.StoreRef]] kind, rooted under
    * `p` — keep in sync with the sealed trait (ErasureSpec compares
    * this list's classes against `knownDirectSubclasses`
    * structurally). */
  private[graft] def fullRegistry(p: String => String): Seq[Erasure.StoreRef] =
    Seq(
      Erasure.SignatureStore(p("sig")),
      Erasure.PostingStore(p("post")),
      Erasure.TokenIndexStore(p("ti")),
      Erasure.PqStore(p("pq")),
      Erasure.IvfPqStore(p("ivfpq")),
      Erasure.LmStore(p("lm")),
      Erasure.LangIdStore(p("lid"), "lang"),
      Erasure.LineDfStore(p("ldf"), "source"),
      Erasure.DsirTargetStore(p("dsir"), buckets = 64),
      Erasure.QualityStore(p("qual"), "lang", buckets = 64),
      Erasure.HammingStore(p("ham")),
      Erasure.LedgerStore(p("led")),
      Erasure.KeptStore(p("kept")),
      Erasure.HashedTfStore(p("hash")))

  private def q237(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(expr(writtenF))
    val allVecs = Tables.embeddings(s, dir)
    val vecs = allVecs.filter(col("vec_id") % 2 === 0)
    StoreGates.withTempStore(s, "graft_q237_all") { base =>
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      val stores = fullRegistry(p)

      // one append per store (per-store ceremony is gated elsewhere).
      // The fourteen builds are INDEPENDENT (distinct roots) and
      // overlap (guide §2.6, r18); only the IVF-PQ write waits on the
      // PQ codebook, so both vector indexes share one task.
      val pinnedDocs = docs.localCheckpoint()
      var cb: DataFrame = null
      ParallelJobs.run(Seq(
        () => Dedup.writeSignatureStore(pinnedDocs, "doc_id", "text", k = 8,
          shingleN = 3, root = p("sig"), batchId = 1L),
        () => InvertedIndex.writePostingStore(pinnedDocs, "doc_id", "text",
          p("post"), 1L),
        () => LateInteraction.writeTokenIndex(pinnedDocs, "doc_id", "text",
          dim = 8, p("ti"), batchId = 1L),
        () => {
          cb = Similarity.pqCodebook(
            Similarity.pqSeeds(vecs, "vec_id", centroids = 8),
            "vec_id", "embedding", dim = 64, m = 4)
            .localCheckpoint() // feeds both vector-index writes
          Similarity.writePqIndex(vecs, cb, "vec_id", "embedding",
            dim = 64, m = 4, p("pq"), batchId = 1L)
          // frozen coarse centroids; the residual codebook's VALUES are
          // irrelevant to this gate's physical surface (row counts), any
          // well-formed (sub, code, cv) frame codes every vector
          Similarity.writeIvfPqIndex(vecs, allVecs.filter(col("vec_id") < 8),
            cb, "vec_id", "embedding", dim = 64, m = 4, p("ivfpq"), 1L)
        },
        () => LanguageModel.writeLmStore(pinnedDocs, "doc_id", "text",
          p("lm"), 1L),
        () => LanguageModel.writeLangIdStore(pinnedDocs, "lang", "text",
          p("lid"), 1L),
        () => Boilerplate.writeLineDfStore(pinnedDocs, "doc_id", "source",
          "text", p("ldf"), 1L),
        () => DataSelection.writeDsirTargetStore(pinnedDocs, "doc_id", "text",
          buckets = 64, root = p("dsir"), batchId = 1L),
        () => QualityClassifier.writeQualityStore(pinnedDocs, "lang", "text",
          buckets = 64, root = p("qual"), batchId = 1L),
        () => {
          // Hamming bands derived from the 60-bit hash, keyed by VECTOR
          // id (media ids ride the vecIds leg) — oracle-replayable
          // without an image decode; the perceptual-hash path is q222
          val bandCols = Seq("b0", "b1", "b2", "b3")
          Dedup.writeHammingStore(
            vecs.select(col("vec_id") +: bandCols.map(b =>
              pmod(graft.operators.TextFunctions.hash60(
                concat(lit(s"$b:"), col("vec_id").cast("string"))),
                lit(65536L)).as(b)): _*),
            "vec_id", bandCols, p("ham"), batchId = 1L)
        },
        () => BatchStore.append(pinnedDocs.select(col("doc_id"),
          col("source"), lit("kept").as("stage")), p("led"), 1L),
        () => BatchStore.append(pinnedDocs.select(col("doc_id"),
          col("source"), col("text")), p("kept"), 1L),
        () => FeatureHashing.writeHashedStore(pinnedDocs, "doc_id", "text",
          dim = 64, p("hash"), batchId = 1L)))

      // the composed takedown: ONE call, the COMPLETE registry
      Erasure.forget(docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", stores, batchId = 2L,
        vecIds = Some((vecs.filter(col("vec_id") % 10 === 0), "vec_id")))
      Erasure.purgeEverywhere(s, stores, "doc_id", newBatchId = 3L,
        vecIdCol = "vec_id")
      Checkpoints.releasePinned(cb)
      Checkpoints.releasePinned(pinnedDocs)

      // post-purge physical surface, one (store, metric, value) frame
      def rd(n: String) = BatchStore.read(s, p(n))
      def one(store: String, metric: String, df: DataFrame): DataFrame =
        df.select(lit(store).as("store"), lit(metric).as("metric"),
          col(df.columns.head).cast("long").as("value"))
      val stats = InvertedIndex.postingStoreStats(s, p("post"))
      val out = Seq(
        one("signatures", "rows", rd("sig").agg(count(lit(1)))),
        one("postings", "rows", rd("post").agg(count(lit(1)))),
        one("postings", "tf_mass", rd("post").agg(sum(col("tf")))),
        one("postings", "n_docs_stat", stats.select(col("n_docs"))),
        one("token_index", "passages",
          rd("ti").agg(countDistinct(col("doc_id")))),
        one("pq", "vectors", rd("pq").agg(countDistinct(col("vec_id")))),
        one("pq", "rows", rd("pq").agg(count(lit(1)))),
        one("ivfpq", "vectors",
          rd("ivfpq").agg(countDistinct(col("vec_id")))),
        one("ivfpq", "rows", rd("ivfpq").agg(count(lit(1)))),
        one("lm", "keys", rd("lm").agg(count(lit(1)))),
        one("lm", "mass", rd("lm").agg(sum(col("cnt")))),
        one("langid", "keys", rd("lid").agg(count(lit(1)))),
        one("langid", "mass", rd("lid").agg(sum(col("cnt")))),
        one("line_df", "keys", rd("ldf").agg(count(lit(1)))),
        one("line_df", "mass", rd("ldf").agg(sum(col("cnt")))),
        one("dsir_target", "keys", rd("dsir").agg(count(lit(1)))),
        one("dsir_target", "mass", rd("dsir").agg(sum(col("cnt")))),
        one("quality", "keys", rd("qual").agg(count(lit(1)))),
        one("quality", "mass", rd("qual").agg(sum(col("cnt")))),
        one("hamming", "rows", rd("ham").agg(count(lit(1)))),
        one("ledger", "rows", rd("led").agg(count(lit(1)))),
        one("kept", "rows", rd("kept").agg(count(lit(1)))),
        one("hashed", "rows", rd("hash").agg(count(lit(1)))),
        one("hashed", "mass", rd("hash").agg(sum(col("weight")))))
        .reduce(_.unionByName(_))
        .orderBy(col("store"), col("metric"))
        .localCheckpoint() // owns the data; the temp stores delete now
      out
    }
  }

  private val q237Sql = {
    val toks = dTokensOf("text")
    s"""WITH rem AS (SELECT doc_id, text, lang, source FROM documents
      |  WHERE $remainF),
      |tok AS (SELECT doc_id, lang, source, $toks AS t FROM rem),
      |ptok AS (SELECT doc_id, unnest(t) AS token FROM tok),
      |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |  FROM tok, unnest(generate_series(1, len(t) - 1)) u(i)
      |  WHERE len(t) >= 2),
      |tri AS (SELECT lang, substr(text, CAST(i AS INTEGER), 3) AS tri
      |  FROM rem, unnest(generate_series(1, length(text) - 2)) u(i)
      |  WHERE length(text) >= 3),
      |lines AS (SELECT DISTINCT doc_id, source, ${dHash("line")} AS lh
      |  FROM (SELECT doc_id, source, unnest(string_split(text, chr(10))) AS line
      |        FROM rem)),
      |grams AS (SELECT doc_id, lang, token AS g FROM
      |    (SELECT doc_id, lang, unnest(t) AS token FROM tok)
      |  UNION ALL
      |  SELECT doc_id, lang, t[i] || ' ' || t[i+1]
      |  FROM tok, unnest(generate_series(1, len(t) - 1)) u(i)
      |  WHERE len(t) >= 2),
      |feats AS (SELECT doc_id, lang, ${dHash("g")} % 64 AS bucket FROM grams),
      |-- signed hashed term frequencies (dim 64), zero weights dropped
      |hf AS (SELECT doc_id, bucket, w FROM (
      |  SELECT doc_id, ${dHash("token")} % 64 AS bucket,
      |    CAST(SUM(CASE WHEN ${dHash("'s:' || token")} % 2 = 0
      |      THEN 1 ELSE -1 END) AS BIGINT) AS w
      |  FROM ptok GROUP BY 1, 2) WHERE w <> 0),
      |remv AS (SELECT vec_id FROM embeddings
      |  WHERE vec_id % 2 = 0 AND vec_id % 10 <> 0),
      |nstat AS (SELECT (SELECT COUNT(*) FROM documents WHERE $writtenF)
      |           - (SELECT COUNT(*) FROM documents WHERE $forgotF) AS n)
      |SELECT * FROM (
      |  SELECT 'signatures' AS store, 'rows' AS metric,
      |    CAST(COUNT(*) AS BIGINT) AS value FROM rem
      |  UNION ALL SELECT 'postings', 'rows',
      |    COUNT(*) FROM (SELECT DISTINCT doc_id, token FROM ptok)
      |  UNION ALL SELECT 'postings', 'tf_mass', COUNT(*) FROM ptok
      |  UNION ALL SELECT 'postings', 'n_docs_stat', n FROM nstat
      |  UNION ALL SELECT 'token_index', 'passages',
      |    COUNT(DISTINCT doc_id) FROM ptok
      |  UNION ALL SELECT 'pq', 'vectors', COUNT(*) FROM remv
      |  UNION ALL SELECT 'pq', 'rows', 4 * COUNT(*) FROM remv
      |  UNION ALL SELECT 'ivfpq', 'vectors', COUNT(*) FROM remv
      |  UNION ALL SELECT 'ivfpq', 'rows', 4 * COUNT(*) FROM remv
      |  UNION ALL SELECT 'lm', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT w1, w2 FROM bg)
      |  UNION ALL SELECT 'lm', 'mass', COUNT(*) FROM bg
      |  UNION ALL SELECT 'langid', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT lang, tri FROM tri)
      |  UNION ALL SELECT 'langid', 'mass', COUNT(*) FROM tri
      |  UNION ALL SELECT 'line_df', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT source, lh FROM lines)
      |  UNION ALL SELECT 'line_df', 'mass', COUNT(*) FROM lines
      |  UNION ALL SELECT 'dsir_target', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT bucket FROM feats)
      |  UNION ALL SELECT 'dsir_target', 'mass', COUNT(*) FROM feats
      |  UNION ALL SELECT 'quality', 'keys',
      |    COUNT(*) FROM (SELECT DISTINCT lang, bucket FROM feats)
      |  UNION ALL SELECT 'quality', 'mass', COUNT(*) FROM feats
      |  UNION ALL SELECT 'hamming', 'rows', COUNT(*) FROM remv
      |  UNION ALL SELECT 'ledger', 'rows', COUNT(*) FROM rem
      |  UNION ALL SELECT 'kept', 'rows', COUNT(*) FROM rem
      |  UNION ALL SELECT 'hashed', 'rows', COUNT(*) FROM hf
      |  UNION ALL SELECT 'hashed', 'mass', CAST(SUM(w) AS BIGINT) FROM hf)
      |ORDER BY store, metric""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q220_forget_everywhere", q220, Some(q220Sql)),
    QueryDef("q237_forget_full_registry", q237, Some(q237Sql)))
}
