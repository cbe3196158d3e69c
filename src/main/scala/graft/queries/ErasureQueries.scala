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
  // The gate q220 and q237 share: build every store of a registry from
  // the even-id corpus slice (one append each; per-store append/serve
  // ceremony is gated elsewhere), ONE Erasure.forget of the %10
  // sub-slice (all stores, one pinned erased frame, one batch id), ONE
  // Erasure.purgeEverywhere, then each store's physically-remaining
  // surface ([[surface]]) in a single (store, metric, value) frame.
  // The vector stores erase by VECTOR id (the embeddings table),
  // exercising the vecIds leg of the fan-out. The gate runs in its own
  // pin scope, so the document and codebook pins are released whether
  // or not a build throws.
  private[graft] def forgetGate(s: SparkSession, dir: String, tag: String,
      registry: (String => String) => Seq[Erasure.StoreRef]): DataFrame = Checkpoints.scoped {
    val docs = Tables.documents(s, dir).filter(expr(writtenF))
    val allVecs = Tables.embeddings(s, dir)
    val vecs = allVecs.filter(col("vec_id") % 2 === 0)
    StoreGates.withTempStore(s, tag) { base =>
      val stores = registry(n => new org.apache.hadoop.fs.Path(base, n).toString)
      val pinnedDocs = Checkpoints.pin(docs)
      // feeds both vector-index writes; whichever build needs it first
      // trains it, the other waits on the lazy val
      lazy val cb = Similarity.pqCodebook(
        Similarity.pqSeeds(vecs, "vec_id", centroids = 8),
        "vec_id", "embedding", dim = 64, m = 4).transform(Checkpoints.pin)
      // the builds are INDEPENDENT (distinct roots), so they overlap
      // (guide §2.6, r18: a sequential chain paid one straggler tail
      // per store)
      ParallelJobs.run(stores.map(ref => () => build(ref, pinnedDocs, vecs, allVecs, cb)))
      // the composed takedown: one call, every store
      Erasure.forget(docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", stores, batchId = 2L,
        vecIds = Some((vecs.filter(col("vec_id") % 10 === 0), "vec_id")))
      Erasure.purgeEverywhere(s, stores, "doc_id", newBatchId = 3L,
        vecIdCol = "vec_id")
      stores.flatMap(ref => surface(ref).map { m =>
          val v = m.value(s, ref.root)
          v.select(lit(m.store).as("store"), lit(m.metric).as("metric"),
            col(v.columns.head).cast("long").as("value"))
        })
        .reduce(_.unionByName(_))
        .orderBy(col("store"), col("metric"))
        .transform(Checkpoints.pin) // owns the data; the temp stores delete now
    }
  }

  /** One append of the even-id slice into `ref`'s store. `cb` (by name)
    * is the PQ codebook both vector indexes code against. */
  private def build(ref: Erasure.StoreRef, docs: DataFrame, vecs: DataFrame,
      allVecs: DataFrame, cb: => DataFrame): Unit = ref match {
    case Erasure.SignatureStore(r) => Dedup.writeSignatureStore(docs,
      "doc_id", "text", k = 8, shingleN = 3, root = r, batchId = 1L)
    case Erasure.PostingStore(r) =>
      InvertedIndex.writePostingStore(docs, "doc_id", "text", r, 1L)
    case Erasure.TokenIndexStore(r) => LateInteraction.writeTokenIndex(docs,
      "doc_id", "text", dim = 8, r, batchId = 1L)
    case Erasure.PqStore(r) => Similarity.writePqIndex(vecs, cb, "vec_id",
      "embedding", dim = 64, m = 4, r, batchId = 1L)
    // frozen coarse centroids; the residual codebook's VALUES are
    // irrelevant to this gate's physical surface (row counts), any
    // well-formed (sub, code, cv) frame codes every vector
    case Erasure.IvfPqStore(r) => Similarity.writeIvfPqIndex(vecs,
      allVecs.filter(col("vec_id") < 8), cb, "vec_id", "embedding",
      dim = 64, m = 4, r, 1L)
    case Erasure.LmStore(r) =>
      LanguageModel.writeLmStore(docs, "doc_id", "text", r, 1L)
    case Erasure.LangIdStore(r, lang) =>
      LanguageModel.writeLangIdStore(docs, lang, "text", r, 1L)
    case Erasure.LineDfStore(r, domain) =>
      Boilerplate.writeLineDfStore(docs, "doc_id", domain, "text", r, 1L)
    case Erasure.DsirTargetStore(r, b) => DataSelection.writeDsirTargetStore(
      docs, "doc_id", "text", buckets = b, root = r, batchId = 1L)
    case Erasure.QualityStore(r, label, b) => QualityClassifier
      .writeQualityStore(docs, label, "text", buckets = b, root = r, batchId = 1L)
    case Erasure.HammingStore(r) =>
      // Hamming bands derived from the 60-bit hash, keyed by VECTOR id
      // (media ids ride the vecIds leg) — oracle-replayable without an
      // image decode; the perceptual-hash path is q222
      val bandCols = Seq("b0", "b1", "b2", "b3")
      Dedup.writeHammingStore(
        vecs.select(col("vec_id") +: bandCols.map(b =>
          pmod(TextFunctions.hash60(
            concat(lit(s"$b:"), col("vec_id").cast("string"))),
            lit(65536L)).as(b)): _*),
        "vec_id", bandCols, r, batchId = 1L)
    case Erasure.LedgerStore(r) => BatchStore.append(docs.select(col("doc_id"),
      col("source"), lit("kept").as("stage")), r, 1L)
    case Erasure.KeptStore(r) => BatchStore.append(docs.select(col("doc_id"),
      col("source"), col("text")), r, 1L)
    case Erasure.HashedTfStore(r) => FeatureHashing.writeHashedStore(docs,
      "doc_id", "text", dim = 64, r, batchId = 1L)
  }

  /** One post-purge metric of one store: its one-column Spark value
    * over the store at a root, and the oracle's matching union line(s),
    * computed from the remaining corpus by the CTEs below. */
  private final case class Metric(store: String, metric: String,
      value: (SparkSession, String) => DataFrame, sql: String)

  private val rows: (SparkSession, String) => DataFrame =
    (s, r) => BatchStore.read(s, r).agg(count(lit(1)))
  private def total(c: String): (SparkSession, String) => DataFrame =
    (s, r) => BatchStore.read(s, r).agg(sum(col(c)))
  private def distinctIds(c: String): (SparkSession, String) => DataFrame =
    (s, r) => BatchStore.read(s, r).agg(countDistinct(col(c)))

  /** A count store's surface: distinct keys and summed mass. */
  private def keysMass(store: String, keysFrom: String,
      massFrom: String): Seq[Metric] = Seq(
    Metric(store, "keys", rows,
      s"""  UNION ALL SELECT '$store', 'keys',
          |    COUNT(*) FROM $keysFrom"""),
    Metric(store, "mass", total("cnt"),
      s"  UNION ALL SELECT '$store', 'mass', COUNT(*) FROM $massFrom"))

  /** A PQ-coded vector index's surface: 4 code rows per vector. */
  private def vectorIndex(store: String): Seq[Metric] = Seq(
    Metric(store, "vectors", distinctIds("vec_id"),
      s"  UNION ALL SELECT '$store', 'vectors', COUNT(*) FROM remv"),
    Metric(store, "rows", rows,
      s"  UNION ALL SELECT '$store', 'rows', 4 * COUNT(*) FROM remv"))

  /** Each registered store's post-purge surface — the one definition
    * both gates' Spark frame and oracle union come from. The signature
    * store's line opens the oracle's union, so it leads every registry. */
  private def surface(ref: Erasure.StoreRef): Seq[Metric] = ref match {
    case _: Erasure.SignatureStore => Seq(Metric("signatures", "rows", rows,
      """  SELECT 'signatures' AS store, 'rows' AS metric,
         |    CAST(COUNT(*) AS BIGINT) AS value FROM rem"""))
    case _: Erasure.PostingStore => Seq(
      Metric("postings", "rows", rows,
        """  UNION ALL SELECT 'postings', 'rows',
           |    COUNT(*) FROM (SELECT DISTINCT doc_id, token FROM ptok)"""),
      Metric("postings", "tf_mass", total("tf"),
        "  UNION ALL SELECT 'postings', 'tf_mass', COUNT(*) FROM ptok"),
      Metric("postings", "n_docs_stat",
        (s, r) => InvertedIndex.postingStoreStats(s, r).select(col("n_docs")),
        "  UNION ALL SELECT 'postings', 'n_docs_stat', n FROM nstat"))
    case _: Erasure.TokenIndexStore => Seq(
      Metric("token_index", "passages", distinctIds("doc_id"),
        """  UNION ALL SELECT 'token_index', 'passages',
           |    COUNT(DISTINCT doc_id) FROM ptok"""))
    case _: Erasure.PqStore => vectorIndex("pq")
    case _: Erasure.IvfPqStore => vectorIndex("ivfpq")
    case _: Erasure.LmStore =>
      keysMass("lm", "(SELECT DISTINCT w1, w2 FROM bg)", "bg")
    case _: Erasure.LangIdStore =>
      keysMass("langid", "(SELECT DISTINCT lang, tri FROM tri)", "tri")
    case _: Erasure.LineDfStore =>
      keysMass("line_df", "(SELECT DISTINCT source, lh FROM lines)", "lines")
    case _: Erasure.DsirTargetStore =>
      keysMass("dsir_target", "(SELECT DISTINCT bucket FROM feats)", "feats")
    case _: Erasure.QualityStore =>
      keysMass("quality", "(SELECT DISTINCT lang, bucket FROM feats)", "feats")
    case _: Erasure.HammingStore => Seq(Metric("hamming", "rows", rows,
      "  UNION ALL SELECT 'hamming', 'rows', COUNT(*) FROM remv"))
    case _: Erasure.LedgerStore => Seq(Metric("ledger", "rows", rows,
      "  UNION ALL SELECT 'ledger', 'rows', COUNT(*) FROM rem"))
    case _: Erasure.KeptStore => Seq(Metric("kept", "rows", rows,
      "  UNION ALL SELECT 'kept', 'rows', COUNT(*) FROM rem"))
    case _: Erasure.HashedTfStore => Seq(
      Metric("hashed", "rows", rows,
        "  UNION ALL SELECT 'hashed', 'rows', COUNT(*) FROM hf"),
      Metric("hashed", "mass", total("weight"),
        "  UNION ALL SELECT 'hashed', 'mass', CAST(SUM(w) AS BIGINT) FROM hf"))
  }

  /** The oracle's post-purge union over `registry`, in store order,
    * closed and ordered like the Spark frame. */
  private def surfaceSql(registry: (String => String) => Seq[Erasure.StoreRef]): String =
    registry(identity).flatMap(surface).map(_.sql)
      .mkString("SELECT * FROM (\n|", "\n|", ")\n|ORDER BY store, metric")

  // The oracle CTEs both gates replay the remaining corpus through,
  // unstripped; q220 keeps its per-CTE notes between them.
  private lazy val remTokCtes =
    s"""WITH rem AS (SELECT doc_id, text, lang, source FROM documents
      |  WHERE $remainF),
      |tok AS (SELECT doc_id, lang, source, ${dTokensOf("text")} AS t FROM rem),"""
  private lazy val ptokCte = "ptok AS (SELECT doc_id, unnest(t) AS token FROM tok),"
  private lazy val bgCte =
    """bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |  FROM tok, unnest(generate_series(1, len(t) - 1)) u(i)
      |  WHERE len(t) >= 2),"""
  private lazy val triCte =
    """tri AS (SELECT lang, substr(text, CAST(i AS INTEGER), 3) AS tri
      |  FROM rem, unnest(generate_series(1, length(text) - 2)) u(i)
      |  WHERE length(text) >= 3),"""
  private lazy val linesCte =
    s"""lines AS (SELECT DISTINCT doc_id, source, ${dHash("line")} AS lh
      |  FROM (SELECT doc_id, source, unnest(string_split(text, chr(10))) AS line
      |        FROM rem)),"""
  private lazy val gramsFeatsCtes =
    s"""grams AS (SELECT doc_id, lang, token AS g FROM
      |    (SELECT doc_id, lang, unnest(t) AS token FROM tok)
      |  UNION ALL
      |  SELECT doc_id, lang, t[i] || ' ' || t[i+1]
      |  FROM tok, unnest(generate_series(1, len(t) - 1)) u(i)
      |  WHERE len(t) >= 2),
      |feats AS (SELECT doc_id, lang, ${dHash("g")} % 64 AS bucket FROM grams),"""
  private lazy val remvCte =
    """remv AS (SELECT vec_id FROM embeddings
      |  WHERE vec_id % 2 = 0 AND vec_id % 10 <> 0),"""
  private lazy val nstatCte =
    s"""nstat AS (SELECT (SELECT COUNT(*) FROM documents WHERE $writtenF)
      |           - (SELECT COUNT(*) FROM documents WHERE $forgotF) AS n)"""

  // ---------------------------------------------------------------
  // q220 — the original composition: the nine doc-side stores. The
  // q189–q192 per-store lifecycle gates pin each store's served VALUES
  // after erasure; this gate pins the COMPOSITION.
  private def nineStores(p: String => String): Seq[Erasure.StoreRef] =
    fullRegistry(p).filter {
      case _: Erasure.IvfPqStore | _: Erasure.HammingStore |
          _: Erasure.LedgerStore | _: Erasure.KeptStore |
          _: Erasure.HashedTfStore => false
      case _ => true
    }

  private def q220(s: SparkSession, dir: String): DataFrame =
    forgetGate(s, dir, "graft_q220_all", nineStores)

  private lazy val q220Sql =
    s"""$remTokCtes
      |-- postings: one row per (doc, distinct token); tf mass = token count
      |$ptokCte
      |-- lm bigrams over remaining docs
      |$bgCte
      |-- langid char trigrams over remaining docs
      |$triCte
      |-- line-df: distinct (source, line-hash) per doc
      |$linesCte
      |-- hashed uni+bigram features (dsir buckets / quality (label, bucket))
      |$gramsFeatsCtes
      |$remvCte
      |-- posting-store stats sidecar: written minus erased raw doc counts
      |$nstatCte
      |${surfaceSql(nineStores)}""".stripMargin

  // ---------------------------------------------------------------
  // q237 — THE COMPLETE REGISTRY IN ONE TAKEDOWN: every StoreRef kind
  // [[graft.operators.Erasure]] registers (all 14 — q220's nine plus
  // IVF-PQ, Hamming, ledger, kept corpus, hashed features). q220 pins
  // the original composition; this gate pins that NO registered kind
  // escapes the one-call fan-out — and [[fullRegistry]] is the one
  // list both this gate and ErasureSpec's structural coverage check
  // consume, so a new StoreRef added without gate coverage fails the
  // spec, not a code review.
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

  private def q237(s: SparkSession, dir: String): DataFrame =
    forgetGate(s, dir, "graft_q237_all", fullRegistry)

  private lazy val q237Sql =
    s"""$remTokCtes
      |$ptokCte
      |$bgCte
      |$triCte
      |$linesCte
      |$gramsFeatsCtes
      |-- signed hashed term frequencies (dim 64), zero weights dropped
      |hf AS (SELECT doc_id, bucket, w FROM (
      |  SELECT doc_id, ${dHash("token")} % 64 AS bucket,
      |    CAST(SUM(CASE WHEN ${dHash("'s:' || token")} % 2 = 0
      |      THEN 1 ELSE -1 END) AS BIGINT) AS w
      |  FROM ptok GROUP BY 1, 2) WHERE w <> 0),
      |$remvCte
      |$nstatCte
      |${surfaceSql(fullRegistry)}""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q220_forget_everywhere", q220, Some(q220Sql)),
    QueryDef("q237_forget_full_registry", q237, Some(q237Sql)))
}
