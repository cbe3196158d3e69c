package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Checkpoints, Packing, Sampling, Skew, SurrogateKeys}

/** Corpus-curation + skew-mitigation queries (q47–q50): the operators
  * the round-1 verdict noted as unit-tested-but-not-oracle-gated
  * ([[graft.operators.Skew]], [[SurrogateKeys.stableHashKeyChecked]])
  * plus the deterministic sampling ops ([[graft.operators.Sampling]]).
  * Every query here has an exact DuckDB oracle — the hash-derived
  * selections use the same 60-bit md5 on both engines.
  */
object CurationQueries {
  import TextQueries.{dHash, dTokens, dTokensOf}

  // ---------------------------------------------------------------
  // q47 — salted two-phase aggregation equals the direct aggregation
  // (the skew-mitigation path, oracle-gated end-to-end).
  private def q47(s: SparkSession, dir: String): DataFrame =
    Skew.saltedSum(Tables.events(s, dir), Seq("event_type"), col("value"), buckets = 7)
      .orderBy(col("event_type"))
  private val q47Sql =
    """SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(28,9))) AS DOUBLE) AS total,
      |  COUNT(*) AS n_rows
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q48 — deterministic 1-in-10 hash sample of the corpus: the
  // selected SET (not just its size) must match across engines.
  // No ORDER BY on either side: the gate compares row multisets, and
  // a sort would bolt a range exchange onto what is otherwise a pure
  // map-side filter (PlanSpec pins the exchange-free plan).
  private def q48(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(Tables.documents(s, dir), col("doc_id").cast("string"), 1, 10)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  private val q48Sql =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${dHash("CAST(doc_id AS VARCHAR)")} % 10 < 1""".stripMargin

  // ---------------------------------------------------------------
  // q49 — cap each language at 20 docs by deterministic hash order
  // (language rebalancing for a training mix).
  private def q49(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerGroup(Tables.documents(s, dir), Seq("lang"),
        col("doc_id").cast("string"), n = 20)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("lang"), col("doc_id"))
  private val q49Sql =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, row_number() OVER (
       |      PARTITION BY lang
       |      ORDER BY ${dHash("CAST(doc_id AS VARCHAR)")}, CAST(doc_id AS VARCHAR)) AS rn
       |  FROM documents)
       |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q50 — stable hash surrogate keys at scale: attach
  // stableHashKeyChecked skeys (collision assertion included) and
  // verify the defining invariant — exactly one distinct sk per
  // natural key, none shared. The sk VALUES are engine-specific
  // (xxhash64); the invariant is not.
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val sk = SurrogateKeys.stableHashKeyChecked(p, Seq("p_brand"), "brand_sk")
    SurrogateKeys.attach(p, sk, Seq("p_brand"))
      .agg(
        countDistinct(col("p_brand")).as("n_brands"),
        countDistinct(col("brand_sk")).as("n_sks"),
        count(lit(1)).as("n_parts"))
  }
  private val q50Sql =
    """SELECT COUNT(DISTINCT p_brand) AS n_brands,
      |       COUNT(DISTINCT p_brand) AS n_sks,
      |       COUNT(*) AS n_parts
      |FROM part""".stripMargin

  // ---------------------------------------------------------------
  // q53 — deterministic shard assignment for corpus export: 8 shards
  // by content-independent id hash, per-shard doc/token budgets. At
  // scale this is the map-side pass before a partitioned write
  // (`partitionBy(shard)`); balanced by the hash, reproducible across
  // runs and engines.
  private def q53(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextFunctions.{hash60, tokenCount}
    Tables.documents(s, dir)
      .withColumn("shard", pmod(hash60(col("doc_id").cast("string")), lit(8L)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("shard"))
  }
  private val q53Sql =
    s"""SELECT ${dHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(len($dTokens)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q57 — sketch surface: HyperLogLog++ approximate count-distinct
  // per event type. Sketch ESTIMATES are engine-specific, so the
  // estimate itself never leaves the query: it feeds only the
  // `within_3rsd` boolean (|approx - exact| <= 3·rsd·exact). Every
  // output column — counts, exact distinct, and the bound check that
  // DuckDB asserts as a TRUE literal — is then oracle-comparable, and
  // the hash gate genuinely fails if the HLL estimate drifts outside
  // its published 3-sigma error envelope. At 100 TB the sketch is the
  // single-pass, fixed-memory alternative to exact count-distinct:
  // mergeable partial sketches, no distinct shuffle of the value
  // domain (the exact twin here exists only to ground the bound at
  // test scale).
  private def q57(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx"))
      .select(
        col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          col("exact_users") * lit(3 * 0.02)).as("within_3rsd"))
      .orderBy(col("event_type"))
  private val q57Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS within_3rsd
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q101 — RE-AGGREGATABLE distinct counts: one DataSketches HLL
  // sketch per (event_type, day), then monthly uniques from
  // `hll_union_agg` over the daily sketches — the property exact
  // COUNT(DISTINCT) fundamentally lacks (day counts don't sum) and the
  // reason a 100 TB warehouse stores sketch columns in its daily
  // partials (see [[graft.operators.Incremental]] — this is that
  // pattern with a mergeable distinct). The estimate feeds only the
  // q57-style envelope boolean (default lgK=12 → rsd ≈ 1.6%, bound at
  // 3·rsd ≈ 5%); the exact month-level twin grounds it at test scale.
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val monthly = daily
      .groupBy(col("event_type"), trunc(col("day"), "month").as("month"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
    val exact = e
      .groupBy(col("event_type"), trunc(col("day"), "month").as("month"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    monthly.join(exact, Seq("event_type", "month"))
      .select(col("event_type"), col("month"), col("n_days"),
        col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("within_bound"))
      .orderBy(col("event_type"), col("month"))
  }
  private val q101Sql =
    """SELECT event_type,
      |  date_trunc('month', CAST(ts AS DATE)) AS month,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS within_bound
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q58 — salted two-phase count-distinct equals the direct
  // COUNT(DISTINCT): the skew-mitigation path the salting exists for
  // (distinct-value state, not row count, is what hot-spots a
  // reducer). Phase 1 dedupes (key, salt, value) — the shuffle key
  // includes the value, so it is uniform even when one event_type
  // owns most rows; phase 2 merges tiny per-salt partial counts.
  private def q58(s: SparkSession, dir: String): DataFrame =
    Skew.saltedCountDistinct(Tables.events(s, dir), Seq("event_type"),
        col("user_id"), buckets = 7)
      .orderBy(col("event_type"))
  private val q58Sql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q62 — temperature-smoothed mixture weights per source (w ∝ √p,
  // normalized): the sampling weights a multi-source training mix
  // feeds its data loader. sqrt is correctly rounded in both engines
  // and the Σ√p denominator is an ordered fold on both sides, so the
  // weights hash-match exactly (see [[Sampling.mixtureWeights]]).
  private def q62(s: SparkSession, dir: String): DataFrame =
    Sampling.mixtureWeights(Tables.documents(s, dir), "source")
      .orderBy(col("source"))
  private val q62Sql =
    """WITH c AS (SELECT source, COUNT(*) AS n_rows FROM documents GROUP BY source),
      |t AS (SELECT SUM(n_rows) AS total FROM c),
      |p AS (SELECT source, n_rows, CAST(n_rows AS DOUBLE) / total AS p FROM c, t),
      |d AS (SELECT list_reduce(
      |        list_prepend(0.0, list(p ORDER BY source)),
      |        (acc, x) -> acc + sqrt(x)) AS denom FROM p)
      |SELECT source, n_rows, p, sqrt(p) / denom AS weight
      |FROM p, d ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q64 — sequence packing (concat-and-chunk): each doc lands in a
  // shard, a fixed-budget training sequence within the shard, and a
  // token offset inside that sequence; boundary-crossing docs are
  // flagged. The whole packing is a prefix sum in deterministic hash
  // order — one shuffle on the shard key, no global sort (see
  // [[graft.operators.Packing]] scale notes).
  private def q64(s: SparkSession, dir: String): DataFrame =
    Packing.packSequences(Tables.documents(s, dir), "doc_id", "text",
        shards = 8, budgetTokens = 512)
      .orderBy(col("doc_id"))
  private val q64Sql = {
    val h = dHash("CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (SELECT doc_id, $h AS h,
       |  CAST(len($dTokens) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, h % 8 AS shard, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY h % 8 ORDER BY h, CAST(doc_id AS VARCHAR)
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t)
       |SELECT doc_id, shard, n_tokens,
       |  cum_before // 512 AS seq_id,
       |  cum_before % 512 AS seq_offset,
       |  n_tokens > 0 AND (cum_before + n_tokens - 1) // 512 > cum_before // 512 AS straddles
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q227 — THE EPOCH RESHUFFLE ([[graft.operators.Packing
  // .packSequences]] with `epochSeed`): training wants a fresh
  // document permutation each epoch, as a pure function of (id, seed)
  // — reproducible on any cluster size, no global sort, no rand().
  // Two epochs pack the same corpus with seeds e0/e1: the SHARD
  // assignment (hash of id alone) must be identical across epochs —
  // locality is stable — while the within-shard order key
  // hash60(seed:id) re-deals sequence composition. The oracle replays
  // both epochs' md5 order keys and prefix sums; Round15Spec
  // additionally pins shard stability, permutation inequality, and
  // input-partitioning invariance.
  private def q227(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def epoch(seed: String, e: Long) =
      Packing.packSequences(docs, "doc_id", "text", shards = 4,
          budgetTokens = 512, epochSeed = seed)
        .withColumn("epoch", lit(e))
    epoch("e0", 0L).unionByName(epoch("e1", 1L))
      .orderBy(col("epoch"), col("doc_id"))
  }
  private val q227Sql = {
    val hShard = dHash("CAST(doc_id AS VARCHAR)")
    def hOrd(seed: String) = dHash(s"'$seed:' || CAST(doc_id AS VARCHAR)")
    def one(seed: String, e: Int) =
      s"""SELECT $e AS epoch, doc_id, h % 4 AS shard, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (
         |    PARTITION BY h % 4 ORDER BY ho, CAST(doc_id AS VARCHAR)
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cum_before
         |FROM (SELECT doc_id, $hShard AS h, ${hOrd(seed)} AS ho,
         |  CAST(len($dTokens) AS BIGINT) AS n_tokens FROM documents)""".stripMargin
    s"""WITH u AS (${one("e0", 0)}
       |UNION ALL
       |${one("e1", 1)})
       |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, shard, n_tokens,
       |  cum_before // 512 AS seq_id,
       |  cum_before % 512 AS seq_offset,
       |  n_tokens > 0 AND (cum_before + n_tokens - 1) // 512 > cum_before // 512
       |    AS straddles
       |FROM u ORDER BY epoch, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q228 — KEPT-CORPUS TAKEDOWN ([[graft.operators.Erasure.KeptStore]]
  // + [[graft.operators.CurationPipeline.readKept]]): the PRIMARY-copy
  // hole in a derived-index-only takedown — every index can be clean
  // and the corpus still serves the document if the kept store is not
  // in the registry. The corpus lands in two batches; ONE
  // Erasure.forget call tombstones the doc_id % 7 = 0 sub-slice out
  // of the kept corpus AND its disposition ledger; the packed-shard
  // export serves through the masked read (a post-takedown shard
  // build cannot re-pack forgotten text); purgeEverywhere drops the
  // rows physically and the re-served export is row-identical
  // in-plan (the q180 equality-gate discipline). Oracle: the q64
  // packing chain over the remaining documents.
  private def q228(s: SparkSession, dir: String): DataFrame = {
    val CP = graft.operators.CurationPipeline
    val E = graft.operators.Erasure
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    StoreGates.withTempStore(s, "graft_q228_kept") { base =>
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      val (kept, led) = (p("kept"), p("led"))
      graft.operators.BatchStore.append(
        docs.filter(col("doc_id") % 2 === 0), kept, batchId = 1L)
      graft.operators.BatchStore.append(
        docs.filter(col("doc_id") % 2 === 1), kept, batchId = 2L)
      graft.operators.BatchStore.append(
        docs.select(col("doc_id"), col("source"))
          .withColumn("stage", lit("kept")), led, batchId = 1L)
      E.forget(docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        Seq(E.KeptStore(kept), E.LedgerStore(led)), batchId = 10L)
      val stores = CP.Stores("", "", "", "", kept)
      def serve() = CP.packedShards(s, stores, "doc_id", "text",
        shards = 4, budgetTokens = 512).transform(Checkpoints.pin)
      val masked = serve()
      E.purgeEverywhere(s, Seq(E.KeptStore(kept), E.LedgerStore(led)),
        "doc_id", newBatchId = 20L)
      val purged = serve()
      StoreGates.compactionIdentityGate(masked, purged,
          "kept-store purge changed the packed export")
        .orderBy(col("shard"))
        .transform(Checkpoints.pin)
    }
  }
  /** Per-shard packing stats over `pc(doc_id, shard, n_tokens,
    * cum_before)` with 512-token sequences (q228 and the curation
    * chain's packing tail). Unstripped. */
  private lazy val packStatsSelect =
    """SELECT shard, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT cum_before // 512) AS n_seqs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(CASE WHEN n_tokens > 0
      |    AND (cum_before + n_tokens - 1) // 512 > cum_before // 512
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddles
      |FROM pc GROUP BY shard ORDER BY shard"""
  private lazy val q228Sql = {
    val h = dHash("CAST(doc_id AS VARCHAR)")
    s"""WITH pk AS (SELECT doc_id, $h AS h,
       |  CAST(len($dTokens) AS BIGINT) AS n_tokens FROM documents
       |  WHERE doc_id % 7 <> 0),
       |pc AS (SELECT doc_id, h % 4 AS shard, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY h % 4 ORDER BY h, CAST(doc_id AS VARCHAR)
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_before
       |  FROM pk)
       |$packStatsSelect""".stripMargin
  }

  // ---------------------------------------------------------------
  // q235 — INCREMENTAL PACKING ([[graft.operators.Packing
  // .packIncrement]]): the continuous-ingestion path — re-packing the
  // accumulated corpus daily is corpus-sized work per day AND
  // rewrites history shards a trainer already consumed. Three slices
  // append instead: shard = hash60(id) (stable), within a shard each
  // slice lays out AFTER the committed ones (arrival order, then
  // (hash, id) — committed layout immutable), and the carried
  // per-shard totals come from the shard-count-sized `_offsets`
  // sidecar, never a history rescan (Round15Spec pins the
  // input-records bound, replay idempotence, and the
  // crash-between-commits heal). Oracle: the fold is equivalent to
  // ONE window ordered by (epoch, hash, id) within shard — q64's
  // chain with arrival prepended to the ORDER BY.
  private def q235(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q235_incpack") { root =>
      (0 to 2).foreach { e =>
        Packing.packIncrement(docs.filter(col("doc_id") % 3 === e),
          "doc_id", "text", shards = 4, budgetTokens = 512, root,
          batchId = 1L + e)
      }
      graft.operators.BatchStore.read(s, root)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("seq_id"), col("seq_offset"), col("straddles"),
          (col("batch") - 1).cast("long").as("epoch"))
        .orderBy(col("doc_id"))
        .transform(Checkpoints.pin)
    }
  }
  private val q235Sql = {
    val h = dHash("CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (SELECT doc_id, doc_id % 3 AS epoch, $h AS h,
       |  CAST(len($dTokens) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, epoch, h % 4 AS shard, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY h % 4 ORDER BY epoch, h, CAST(doc_id AS VARCHAR)
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum
       |  FROM t)
       |SELECT doc_id, shard, n_tokens,
       |  cum // 512 AS seq_id,
       |  cum % 512 AS seq_offset,
       |  n_tokens > 0 AND (cum + n_tokens - 1) // 512 > cum // 512
       |    AS straddles,
       |  CAST(epoch AS BIGINT) AS epoch
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q236 — STREAMED INCREMENTAL PACKING ([[graft.operators.Packing
  // .packIncrementSink]]): q235's append discipline fed by a
  // Structured-Streaming file source. Arrival order is SEMANTIC here
  // (a slice lays out after the epochs before it — unlike the
  // order-free count-store sinks), so the slice files get pinned
  // mtimes, the q221 staging discipline. The stream must commit
  // exactly the sequential fold's layout: oracle = q235's one-window
  // chain verbatim.
  private def q236(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    StoreGates.withTempStore(s, "graft_q236_incpack") { base =>
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      val (ckpt, store) = (p("ckpt"), p("store"))
      // arrival order is semantic here too — shared staging discipline
      val stager = new StoreGates.PinnedMtimeStager(s, p("stage"))
      val stage = stager.stage
      (0 to 2).foreach(e =>
        stager.stageSlice(docs.filter(col("doc_id") % 3 === e)))
      StoreGates.drainFileStream(s, docs.schema, stage, ckpt)(
        Packing.packIncrementSink("doc_id", "text", shards = 4,
          budgetTokens = 512, store))
      graft.operators.BatchStore.read(s, store)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("seq_id"), col("seq_offset"), col("straddles"),
          (col("batch") - 1).cast("long").as("epoch"))
        .orderBy(col("doc_id"))
        .transform(Checkpoints.pin)
    }
  }

  // ---------------------------------------------------------------
  // q126 — global ORDER-PRESERVING token-budget sharding: documents in
  // doc_id order, cut into ~2000-token contiguous shards (time/crawl-
  // order export, curriculum phases). The oracle is the one-line
  // `SUM(w) OVER (ORDER BY doc_id)` — which as a Spark plan would be a
  // single-task global window; the operator computes the identical
  // prefix sum distributed (bucketed two-level structure, see
  // [[graft.operators.Packing.contiguousShards]] scale notes). No
  // ORDER BY: the gate compares multisets, and a sort would bolt a
  // global range exchange onto the plan being proven scalable.
  private def q126(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextFunctions.tokenCount
    Packing.contiguousShards(Tables.documents(s, dir), "doc_id",
      tokenCount(col("text")), budget = 2000L, buckets = 32)
  }
  private val q126Sql =
    s"""WITH w AS (SELECT doc_id,
       |  CAST(len($dTokens) AS BIGINT) AS n_tokens FROM documents),
       |p AS (SELECT doc_id, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS BIGINT) AS global_offset
       |  FROM w)
       |SELECT doc_id, n_tokens, global_offset,
       |  global_offset // 2000 AS shard
       |FROM p""".stripMargin

  // ---------------------------------------------------------------
  // q65 — per-language length-outlier trim: exact [p05, p95] token
  // bounds per language (Spark `percentile` ≡ DuckDB `quantile_cont`,
  // same linear interpolation — the q39 precedent), then one
  // conditional-aggregation pass classifying every doc as short /
  // long / kept. The bounds frame is one row per language and
  // broadcast back, so the corpus side never shuffles before the
  // final per-language rollup.
  private def q65(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextFunctions.tokenCount
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
    Sampling.withPercentileBounds(tok, Seq("lang"), col("n_tokens"),
        0.05, 0.95, "p05", "p95")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("n_tokens") < col("p05"), 1L).otherwise(0L)).as("n_short"),
        sum(when(col("n_tokens") > col("p95"), 1L).otherwise(0L)).as("n_long"),
        sum(when(col("n_tokens").between(col("p05"), col("p95")), 1L)
          .otherwise(0L)).as("n_kept"),
        max(col("p05")).as("p05"),
        max(col("p95")).as("p95"))
      .orderBy(col("lang"))
  }
  private val q65Sql =
    s"""WITH t AS (SELECT doc_id, lang,
       |  CAST(len($dTokens) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT lang, quantile_cont(n_tokens, 0.05) AS p05,
       |             quantile_cont(n_tokens, 0.95) AS p95
       |      FROM t GROUP BY lang)
       |SELECT t.lang, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN n_tokens < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       |  CAST(SUM(CASE WHEN n_tokens > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
       |  CAST(SUM(CASE WHEN n_tokens BETWEEN p05 AND p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  MAX(p05) AS p05, MAX(p95) AS p95
       |FROM t JOIN c USING (lang)
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin

  // ---------------------------------------------------------------
  // q70 — proportional stratified sample: exactly ceil(10% of n_g)
  // docs per language, selected in deterministic hash order. The
  // SELECTED SET must match across engines, not just its size —
  // unlike q48's global hash sample, every stratum is represented at
  // the same rate (see [[Sampling.stratifiedSample]]).
  private def q70(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(Tables.documents(s, dir), Seq("lang"),
        col("doc_id").cast("string"), frac = 0.1)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("lang"), col("doc_id"))
  private val q70Sql = {
    val h = dHash("CAST(doc_id AS VARCHAR)")
    s"""WITH q AS (SELECT lang, CAST(ceil(COUNT(*) * 0.1) AS BIGINT) AS quota
       |           FROM documents GROUP BY lang),
       |r AS (SELECT doc_id, lang, row_number() OVER (
       |        PARTITION BY lang ORDER BY $h, CAST(doc_id AS VARCHAR)) AS rn
       |      FROM documents)
       |SELECT doc_id, lang FROM r JOIN q USING (lang)
       |WHERE rn <= quota ORDER BY lang, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q71 — mixture APPLICATION: the q62 √p-smoothed weights turned
  // into an actual 200-row export — group g keeps floor(w_g · 200)
  // docs in deterministic hash order. The q62 weight arithmetic is
  // bit-exact cross-engine, so the realized quotas (and therefore the
  // exact selected set) hash-match (see [[Sampling.applyMixture]]).
  private def q71(s: SparkSession, dir: String): DataFrame =
    Sampling.applyMixture(Tables.documents(s, dir), "source",
        col("doc_id").cast("string"), budget = 200)
      .select(col("doc_id"), col("source"))
      .orderBy(col("source"), col("doc_id"))
  private val q71Sql = {
    val h = dHash("CAST(doc_id AS VARCHAR)")
    s"""WITH c AS (SELECT source, COUNT(*) AS n_rows FROM documents GROUP BY source),
       |t AS (SELECT SUM(n_rows) AS total FROM c),
       |p AS (SELECT source, CAST(n_rows AS DOUBLE) / total AS p FROM c, t),
       |d AS (SELECT list_reduce(
       |        list_prepend(0.0, list(p ORDER BY source)),
       |        (acc, x) -> acc + sqrt(x)) AS denom FROM p),
       |q AS (SELECT source, CAST(floor(sqrt(p) / denom * 200) AS BIGINT) AS quota
       |      FROM p, d),
       |r AS (SELECT doc_id, source, row_number() OVER (
       |        PARTITION BY source ORDER BY $h, CAST(doc_id AS VARCHAR)) AS rn
       |      FROM documents)
       |SELECT doc_id, source FROM r JOIN q USING (source)
       |WHERE rn <= quota ORDER BY source, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q76 — top-10 heavy hitters with a count-min-sketch error
  // envelope: the q57 pattern applied to frequency estimation. The
  // CMS estimate feeds only the `within_eps` boolean (exact ≤ est ≤
  // exact + ε·N), so every output column is DuckDB-comparable and the
  // gate fails if the sketch leaves its envelope. At scale the sketch
  // replaces the exact key-domain shuffle; the exact twin grounds the
  // bound at test scale (see [[graft.operators.Sketches]]).
  private def q76(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.heavyHittersChecked(
      graft.Tables.events(s, dir), "user_id", k = 10,
      eps = 0.001, confidence = 0.999, seed = 42)
  private val q76Sql =
    """SELECT user_id, COUNT(*) AS n_rows, TRUE AS within_eps
      |FROM events GROUP BY user_id
      |ORDER BY n_rows DESC, user_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------
  // q80 — approximate median with its GK rank-error envelope: the
  // third sketch surface (HLL q57 distinct counts, CMS q76
  // frequencies, GK quantiles here), all gated the same way — the
  // engine-specific estimate feeds only a boolean the oracle asserts
  // TRUE, while counts stay exactly comparable.
  private def q80(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.approxMedianChecked(
      graft.Tables.events(s, dir), "event_type", "value", accuracy = 1000)
      .orderBy(col("event_type"))
  private val q80Sql =
    """SELECT event_type, COUNT(*) AS n_rows, TRUE AS within_rank_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q209 — BOILERPLATE REMOVAL ([[graft.operators.Boilerplate
  // .stripRepeatedLines]]): the CCNet/RefinedWeb first content stage
  // — per-domain repeated-LINE stripping, the curation step that
  // catches navigation/header/footer artifacts whole-document dedup
  // cannot (every page differs) — on a line-structured fixture built
  // in-plan: each document becomes a per-source header line + its
  // own text + one of two per-source footer lines (df ≈ docs-per-
  // source and half that — both above the threshold; the text line's
  // df is ~1). Detection is ONE corpus-line shuffle keyed
  // (source, line-hash60); the strip side filters each doc's OWN
  // line array against the domain's boilerplate set — documents are
  // never exploded-and-regrouped. Oracle: the same line split, md5
  // hash, distinct-doc frequency, threshold, and order-preserving
  // rebuild replayed in DuckDB — a df off-by-one, a hash drift, or a
  // reordered rebuild all break the hash.
  /** q209/q214 shared fixture: each document as per-source header +
    * its own text + one of two parity-keyed per-source footers. */
  private def boilerLined(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(
        lit("boiler "), col("source"), lit("\n"),
        col("text"), lit("\n"),
        when(col("doc_id") % 2 === 0, concat(lit("footer-a "), col("source")))
          .otherwise(concat(lit("footer-b "), col("source")))).as("text"))
  private def boilerLinedCteFor(where: String) =
    s"""WITH lined AS (SELECT doc_id, source,
      |    'boiler ' || source || chr(10) || text || chr(10) ||
      |    CASE WHEN doc_id % 2 = 0 THEN 'footer-a ' || source
      |         ELSE 'footer-b ' || source END AS ltext
      |  FROM documents WHERE $where)""".stripMargin
  private val boilerLinedCte = boilerLinedCteFor("TRUE")

  private def q209(s: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.stripRepeatedLines(
        boilerLined(Tables.documents(s, dir)),
        "doc_id", "source", "text", minDf = 10L)
      .orderBy(col("doc_id"))
  /** The line split, md5 line hash, distinct-doc frequency and
    * threshold over a frame `lined(doc_id, source, ltext)`: the lines
    * that survive, `kept(doc_id, source, pos, line)`. Unstripped. */
  private lazy val boilerKeptCtes =
    s"""ls AS (SELECT doc_id, source, string_split(ltext, chr(10)) AS ls
      |  FROM lined),
      |lines AS (SELECT doc_id, source, u.i AS pos, ls[u.i] AS line
      |  FROM ls, UNNEST(generate_series(1, len(ls))) AS u(i)),
      |dfh AS (SELECT source, lh, COUNT(*) AS df FROM (
      |    SELECT DISTINCT doc_id, source, ${dHash("line")} AS lh FROM lines)
      |  GROUP BY 1, 2),
      |boiler AS (SELECT source, lh FROM dfh WHERE df >= 10),
      |kept AS (SELECT l.doc_id, l.source, l.pos, l.line
      |  FROM lines l LEFT JOIN boiler b
      |    ON l.source = b.source AND ${dHash("l.line")} = b.lh
      |  WHERE b.lh IS NULL),"""
  /** The q209/q212 shared oracle tail: given CTEs ending in a frame
    * `lined(doc_id, source, ltext)`, replay the line split, md5 line
    * hash, distinct-doc frequency, threshold, and order-preserving
    * rebuild. */
  private def boilerplateSqlTail(linedCtes: String): String =
    // concatenate AFTER the tail's stripMargin — a second stripMargin
    // over the embedded CTE would eat the first `|` of a line-leading
    // `||` continuation
    linedCtes + ",\n" +
    s"""$boilerKeptCtes
      |tot AS (SELECT doc_id, len(ls) AS n_lines FROM ls)
      |SELECT k.doc_id, k.source, CAST(t.n_lines AS BIGINT) AS n_lines,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  string_agg(k.line, chr(10) ORDER BY k.pos) AS text
      |FROM kept k JOIN tot t ON k.doc_id = t.doc_id
      |GROUP BY 1, 2, 3 ORDER BY k.doc_id""".stripMargin
  private lazy val q209Sql = boilerplateSqlTail(boilerLinedCte)

  // ---------------------------------------------------------------
  // q214 — THE COMPOSED CURATION PIPELINE (boilerplate strip →
  // exact dedup → survivor stats): the demonstration that the stage
  // ORDER carries real semantics — the injected parity-keyed footers
  // make byte-identical documents LOOK distinct, so document-level
  // exact dedup ([[graft.operators.Dedup.exactGroups]]) only finds
  // the duplicate groups AFTER [[graft.operators.Boilerplate
  // .stripRepeatedLines]] removes the per-source noise (the reason
  // every real pipeline runs boilerplate removal first). One
  // stripped-corpus checkpoint feeds the hash pass and the join
  // back; output is per-source keeper counts, represented-document
  // mass, and surviving token volume. Oracle: the q209 line chain →
  // md5 groups keep min(doc_id) → the same stats.
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val stripped = graft.operators.Boilerplate.stripRepeatedLines(
      boilerLined(Tables.documents(s, dir)),
      "doc_id", "source", "text", minDf = 10L)
    // pin: feeds the content-hash pass AND the keeper join back
    val st = Checkpoints.pin(stripped)
    val keep = graft.operators.Dedup.exactGroups(st, "doc_id", "text")
      .filter(col("doc_id") === col("keeper_id"))
      .select(col("doc_id"), col("group_size"))
    st.join(keep, Seq("doc_id"))
      .select(col("source"), col("group_size"),
        size(graft.operators.TextFunctions.tokens(col("text")))
          .cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("group_size")).as("n_represented"),
        sum(col("n_toks")).as("sum_toks"))
      .orderBy(col("source"))
      .transform(Checkpoints.pin)
  }
  private lazy val q214Sql =
    boilerLinedCte + ",\n" +
    s"""$boilerKeptCtes
      |reb AS (SELECT doc_id, source,
      |    string_agg(line, chr(10) ORDER BY pos) AS text
      |  FROM kept GROUP BY 1, 2),
      |grp AS (SELECT doc_id, source, text, md5(text) AS h FROM reb),
      |keepers AS (SELECT h, MIN(doc_id) AS keeper, COUNT(*) AS group_size
      |  FROM grp GROUP BY h)
      |SELECT g.source, COUNT(*) AS n_docs,
      |  CAST(SUM(k.group_size) AS BIGINT) AS n_represented,
      |  CAST(SUM(len($dTokens)) AS BIGINT) AS sum_toks
      |FROM grp g JOIN keepers k ON g.h = k.h AND g.doc_id = k.keeper
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q216 — THE BOILERPLATE DETECTOR AS A MAINTAINED STORE
  // ([[graft.operators.Boilerplate.writeLineDfStore]] /
  // [[Boilerplate.deleteFromLineDfStore]] / [[Boilerplate
  // .compactLineDfStore]] / [[Boilerplate.stripRepeatedLinesFromStore]]):
  // the q189 count-store lifecycle on the line-df model — per-
  // (source, line-hash) DISTINCT-DOC counts append in two disjoint
  // slices (doc_id % 2), a takedown erases the % 10 = 3 documents by
  // negated counts (their lines stop counting toward the threshold,
  // no history recount), the serve strips the REMAINING corpus
  // against the summed store, then the store COMPACTS (non-negative
  // guard armed, net-zero keys dropped) and serves again — identical
  // in-plan (the q180 equality-gate discipline). Oracle: q209's chain
  // with the erased documents excluded from BOTH the df counting and
  // the strip side.
  private def q216(s: SparkSession, dir: String): DataFrame = {
    val B = graft.operators.Boilerplate
    val lined = boilerLined(Tables.documents(s, dir))
    val remaining = lined.filter(col("doc_id") % 10 =!= 3)
    StoreGates.withTempStore(s, "graft_q216_linedf") { root =>
      // independent appends (distinct batch ids; the _dbuckets meta
      // commit is race-hardened) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => B.writeLineDfStore(lined.filter(col("doc_id") % 2 === 0),
          "doc_id", "source", "text", root, batchId = 1L),
        () => B.writeLineDfStore(lined.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "source", "text", root, batchId = 2L)))
      B.deleteFromLineDfStore(lined.filter(col("doc_id") % 10 === 3),
        "doc_id", "source", "text", root, batchId = 3L)
      def serve() = B.stripRepeatedLinesFromStore(s, root, remaining,
        "doc_id", "source", "text", minDf = 10L).transform(Checkpoints.pin)
      val masked = serve()
      B.compactLineDfStore(s, root, "source", newBatchId = 4L)
      val compacted = serve()
      StoreGates.compactionIdentityGate(masked, compacted,
          "line-df compaction changed the served strip")
        .orderBy(col("doc_id"))
        .transform(Checkpoints.pin)
    }
  }
  private lazy val q216Sql = boilerplateSqlTail(
    boilerLinedCteFor("doc_id % 10 <> 3"))

  // ---------------------------------------------------------------
  // q212 — MARKUP STRIP + LINE DEDUP, THE COMPOSED FIRST STAGE
  // ([[graft.operators.Boilerplate.stripMarkup]] feeding
  // [[Boilerplate.stripRepeatedLines]]): the full CCNet/RefinedWeb
  // entry recipe — each document arrives as tagged HTML-ish markup
  // (nav header, <p>-wrapped body, per-source footer, built in-plan),
  // tags strip to spaces (adjacent words never fuse), and the
  // per-source repeated lines the strip EXPOSES (the nav/footer text
  // is identical across a source's pages only after the tags go)
  // are then removed by document frequency. Oracle: DuckDB
  // regexp_replace(…, 'g') replays the tag strip character-for-
  // character, then the q209 chain — a regex dialect drift, a
  // space-vs-empty replacement, or a df miscount all break the hash.
  private def q212(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val marked = docs.select(col("doc_id"), col("source"), concat(
      lit("<nav>menu "), col("source"), lit("</nav>\n<p>"),
      col("text"), lit("</p>\n<footer>(c) "), col("source"),
      lit("</footer>")).as("text"))
    val cleaned = marked.withColumn("text",
      graft.operators.Boilerplate.stripMarkup(col("text")))
    graft.operators.Boilerplate.stripRepeatedLines(
        cleaned, "doc_id", "source", "text", minDf = 10L)
      .orderBy(col("doc_id"))
  }
  private val q212Sql = boilerplateSqlTail(
    """WITH marked AS (SELECT doc_id, source,
      |    '<nav>menu ' || source || '</nav>' || chr(10) || '<p>' || text
      |    || '</p>' || chr(10) || '<footer>(c) ' || source || '</footer>'
      |    AS mtext
      |  FROM documents),
      |lined AS (SELECT doc_id, source,
      |    regexp_replace(mtext, '<[^>]*>', ' ', 'g') AS ltext
      |  FROM marked)""".stripMargin)

  // ---------------------------------------------------------------
  // q210 — TRAINED QUALITY CLASSIFIER WITH THE FULL STORE LIFECYCLE
  // ([[graft.operators.QualityClassifier]]): naive Bayes over the
  // DSIR hashed unigram ∪ bigram feature space (B = 4096), the
  // supervised sibling of q185's lang-id — same exact-integer argmax,
  // labels from a deterministic rule (n_chars ≥ 300 → 'good') so the
  // oracle can regenerate them. The model store runs the q191
  // lifecycle verbatim: two labeled appends (doc_id % 4 ≠ 0 split by
  // % 2), a negated-delta erasure of the % 5 = 0 sub-slice, a masked
  // serve, compaction (non-negative guard armed, net-zero buckets
  // dropped), and a second serve — identical in-plan (the q180
  // equality-gate discipline). Held-out docs (doc_id % 4 = 0)
  // classify into the confusion matrix. Oracle: features, Laplace
  // floors, per-class missing-mass constants, and the argmax all
  // replayed in DuckDB over the appended-minus-erased training set.
  private def q210(s: SparkSession, dir: String): DataFrame = {
    val QC = graft.operators.QualityClassifier
    val docs = Tables.documents(s, dir)
    val labeled = docs.withColumn("label",
      when(col("n_chars") >= 300, lit("good")).otherwise(lit("bad")))
    val train = labeled.filter(col("doc_id") % 4 =!= 0)
    val cand = labeled.filter(col("doc_id") % 4 === 0)
    StoreGates.withTempStore(s, "graft_q210_qc") { root =>
      // independent appends (distinct batch ids) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => QC.writeQualityStore(train.filter(col("doc_id") % 2 === 0),
          "label", "text", buckets = 4096, root, batchId = 1L),
        () => QC.writeQualityStore(train.filter(col("doc_id") % 2 =!= 0),
          "label", "text", buckets = 4096, root, batchId = 2L)))
      QC.deleteFromQualityStore(train.filter(col("doc_id") % 5 === 0),
        "label", "text", buckets = 4096, root, batchId = 3L)
      def serve() = QC.classifyFromStore(s, root, cand,
        "doc_id", "text", buckets = 4096)
      val masked = serve()
      QC.compactQualityStore(s, root, newBatchId = 4L)
      val compacted = serve()
      confusion(StoreGates.compactionIdentityGate(masked, compacted,
        "quality-store compaction changed classifications"), cand)
    }
  }
  /** q210/q213's confusion counts: predicted labels joined to the
    * candidates' true labels, pinned so the store can go. */
  private def confusion(pred: DataFrame, cand: DataFrame): DataFrame =
    pred.join(cand.select(col("doc_id"), col("label").as("label_true")),
        Seq("doc_id"))
      .groupBy(col("label_true"), col("label_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("label_true"), col("label_pred"))
      .transform(Checkpoints.pin)

  /** The classifier's naive-Bayes model CTEs: labeled training tokens
    * `tr` read from `trainFrom`, hashed uni+bigram features `tf`,
    * per-(label, bucket) counts `cb`, label totals `cl`, vocabulary
    * `v` and per-label smoothing `cls`. Unstripped. */
  private def nbTrainCtes(trainFrom: String): String =
    s"""tr AS (SELECT
      |    CASE WHEN n_chars >= 300 THEN 'good' ELSE 'bad' END AS label,
      |    $dTokens AS toks FROM $trainFrom),
      |tf AS (SELECT label, ${dHash("g")} % 4096 AS bucket FROM (
      |  SELECT label, unnest(toks) AS g FROM tr
      |  UNION ALL
      |  SELECT label, unnest(list_transform(generate_series(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS g FROM tr)),
      |cb AS (SELECT label, bucket, COUNT(*) AS cnt FROM tf GROUP BY 1, 2),
      |cl AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS cl FROM cb GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT bucket) AS v FROM cb),
      |cls AS (SELECT label, cl, v.v AS v,
      |    CAST(floor(CAST(1 AS DOUBLE) * 1073741824.0 / (cl + v.v))
      |      AS BIGINT) AS floor0
      |  FROM cl CROSS JOIN v),"""
  /** Scores every candidate in `ca` (doc_id, toks) under each label of
    * [[nbTrainCtes]]' model: `sc` (doc_id, label, score_fp).
    * Unstripped. */
  private lazy val nbScoreCtes =
    s"""cf AS (SELECT doc_id, ${dHash("g")} % 4096 AS bucket FROM (
      |  SELECT doc_id, unnest(toks) AS g FROM ca
      |  UNION ALL
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS g FROM ca)),
      |nf AS (SELECT doc_id, COUNT(*) AS n_feats FROM cf GROUP BY 1),
      |seen AS (SELECT f.doc_id, cb.label,
      |    CAST(SUM(CAST(floor(CAST(cb.cnt + 1 AS DOUBLE) * 1073741824.0
      |      / (cls.cl + cls.v)) AS BIGINT)) AS BIGINT) AS seen_fp,
      |    COUNT(*) AS n_seen
      |  FROM cf f JOIN cb ON f.bucket = cb.bucket
      |  JOIN cls ON cb.label = cls.label
      |  GROUP BY 1, 2),
      |sc AS (SELECT nf.doc_id, cls.label,
      |    COALESCE(seen.seen_fp, 0)
      |      + (nf.n_feats - COALESCE(seen.n_seen, 0)) * cls.floor0 AS score_fp
      |  FROM nf CROSS JOIN cls
      |  LEFT JOIN seen ON seen.doc_id = nf.doc_id AND seen.label = cls.label),"""
  /** q210's NB-replay oracle with a pluggable TRAINING filter — q213
    * streams the full labeled slice (no erasure), so its oracle
    * trains on everything outside the held-out quarter. */
  private def qualityNbSqlFor(trainWhere: String): String = {
    val train = s"""documents
      |  WHERE $trainWhere"""
    s"""WITH ${nbTrainCtes(train)}
      |ca AS (SELECT doc_id,
      |    CASE WHEN n_chars >= 300 THEN 'good' ELSE 'bad' END AS label_true,
      |    $dTokens AS toks FROM documents WHERE doc_id % 4 = 0),
      |$nbScoreCtes
      |pred AS (SELECT doc_id, label AS label_pred FROM (
      |  SELECT doc_id, label, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score_fp DESC, label) AS rn FROM sc) WHERE rn = 1)
      |SELECT ca.label_true, pred.label_pred, COUNT(*) AS n_docs
      |FROM pred JOIN ca ON pred.doc_id = ca.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
  private val q210Sql =
    qualityNbSqlFor("doc_id % 4 <> 0 AND doc_id % 5 <> 0")

  // ---------------------------------------------------------------
  // q213 — STREAMED QUALITY-MODEL MAINTENANCE ([[graft.operators
  // .QualityClassifier.qualityStoreSink]]): the q194/q200/q202
  // exactly-once foreachBatch discipline on the classifier's count
  // store — the labeled training slices arrive one per micro-batch
  // through the checkpointed file source, each epoch appending its
  // per-class feature counts via the stage-and-rename commit (single
  // dir, replay no-ops). Served classification must equal single-shot
  // training exactly (counts merge by SUM): the oracle is q210's NB
  // replay trained on the full labeled set, no erasure.
  private def q213(s: SparkSession, dir: String): DataFrame = {
    val QC = graft.operators.QualityClassifier
    val docs = Tables.documents(s, dir)
    val labeled = docs.withColumn("label",
      when(col("n_chars") >= 300, lit("good")).otherwise(lit("bad")))
    val train = labeled.filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id"), col("label"), col("text"))
    val cand = labeled.filter(col("doc_id") % 4 === 0)
    StoreGates.withStreamedStore(s, "graft_q213",
      slices = Seq(train.filter(col("doc_id") % 2 === 0),
        train.filter(col("doc_id") % 2 =!= 0)),
      sink = store => QC.qualityStoreSink("label", "text", 4096, store)
    ) { store =>
      val served = QC.classifyFromStore(s, store, cand,
        "doc_id", "text", buckets = 4096)
      confusion(served, cand)
    }
  }
  private val q213Sql = qualityNbSqlFor("doc_id % 4 <> 0")

  // ---------------------------------------------------------------
  // q211 — THE PERPLEXITY QUALITY GATE ([[graft.operators
  // .LanguageModel.lmQualityFilterFromStore]]): CCNet's third stage
  // composed from served parts — the persisted bigram LM (two
  // training appends, doc_id % 3 = 1 then % 3 = 2, the q182 store)
  // scores EVERY candidate doc (doc_id % 3 = 0), and each SOURCE
  // keeps its docs at or above its own 0.625-quantile of lm_avg
  // (per-source thresholds, q147's exact order statistic — one
  // spammy source is judged by its own distribution). cutQ = 0.625
  // is an exact binary fraction, so the oracle's double ceil(q·n)
  // equals the operator's exact-decimal rank. Fixed-point scores
  // make the kept SET and every score hash-exact.
  private def q211(s: SparkSession, dir: String): DataFrame = {
    val LM = graft.operators.LanguageModel
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q211_lm") { root =>
      // independent appends (distinct batch ids) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => LM.writeLmStore(docs.filter(col("doc_id") % 3 === 1),
          "doc_id", "text", root, batchId = 1L),
        () => LM.writeLmStore(docs.filter(col("doc_id") % 3 === 2),
          "doc_id", "text", root, batchId = 2L)))
      LM.lmQualityFilterFromStore(s, root,
          docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", groupCol = "source", cutQ = 0.625)
        .orderBy(col("doc_id"))
        .transform(Checkpoints.pin)
    }
  }
  private lazy val q211Sql =
    s"""${TextQueries.laplaceAggCtes("doc_id % 3 <> 0")},
      |scg AS (SELECT a.doc_id, d.source,
      |    CAST(a.n_bigrams AS BIGINT) AS n_bigrams, a.lm_fp,
      |    CAST(a.lm_fp AS DOUBLE) / a.n_bigrams AS lm_avg
      |  FROM agg a JOIN documents d ON a.doc_id = d.doc_id),
      |r AS (SELECT source, lm_avg,
      |    row_number() OVER (PARTITION BY source ORDER BY lm_avg) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n FROM scg),
      |cut AS (SELECT source,
      |    MAX(CASE WHEN rn = CAST(ceil(0.625 * n) AS BIGINT)
      |      THEN lm_avg END) AS cutoff
      |  FROM r GROUP BY source)
      |SELECT s.doc_id, s.source, s.n_bigrams, s.lm_fp, s.lm_avg
      |FROM scg s JOIN cut c ON s.source = c.source
      |WHERE s.lm_avg >= c.cutoff
      |ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q195 — IMPORTANCE-WEIGHTED DATA SELECTION ([[graft.operators
  // .DataSelection.dsirTopK]]): the DSIR recipe — hashed unigram ∪
  // bigram features (60-bit md5 mod 4096, q174's replay discipline),
  // a target distribution fit on the curated slice (doc_id % 7 = 0),
  // the raw distribution fit on the candidate pool itself
  // (doc_id % 7 ≠ 0), per-bucket fixed-point ratio weights
  // floor((t+1)·(N_R+B)·2³⁰ / ((r+1)·(N_T+B))) (add-one smoothing,
  // no transcendentals — the LM discipline), and the 20 candidates
  // with the highest per-feature mean importance. The oracle replays
  // the whole chain — hash, smoothing, the exact double
  // parenthesization, the long sums — so a bucket off-by-one, a
  // smoothing constant drift, or a features-vs-types miscount all
  // break the hash.
  private def q195(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.DataSelection.dsirTopK(
      candidates = docs.filter(col("doc_id") % 7 =!= 0),
      target = docs.filter(col("doc_id") % 7 === 0),
      idCol = "doc_id", textCol = "text", buckets = 4096, k = 20)
  }
  /** The q195 chain with a pluggable target filter — q201 serves from
    * an appended-minus-erased target store, so its oracle fits the
    * target distribution on the remaining curated slices. */
  private def dsirSqlFor(targetWhere: String): String =
    s"""WITH tg AS (SELECT doc_id, $dTokens AS toks FROM documents
      |  WHERE $targetWhere),
      |tf AS (SELECT ${dHash("g")} % 4096 AS bucket FROM (
      |  SELECT unnest(toks) AS g FROM tg
      |  UNION ALL
      |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS g FROM tg)),
      |tc AS (SELECT bucket, COUNT(*) AS t_cnt FROM tf GROUP BY 1),
      |nt AS (SELECT CAST(SUM(t_cnt) AS BIGINT) AS nt FROM tc),
      |cg AS (SELECT doc_id, $dTokens AS toks FROM documents
      |  WHERE doc_id % 7 <> 0),
      |cf AS (SELECT doc_id, ${dHash("g")} % 4096 AS bucket FROM (
      |  SELECT doc_id, unnest(toks) AS g FROM cg
      |  UNION ALL
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS g FROM cg)),
      |rc AS (SELECT bucket, COUNT(*) AS r_cnt FROM cf GROUP BY 1),
      |nr AS (SELECT CAST(SUM(r_cnt) AS BIGINT) AS nr FROM rc),
      |w AS (SELECT rc.bucket,
      |    CAST(floor(CAST(COALESCE(tc.t_cnt, 0) + 1 AS DOUBLE)
      |      * (nr.nr + 4096) * 1073741824.0
      |      / (CAST(COALESCE(rc.r_cnt, 0) + 1 AS DOUBLE)
      |        * (nt.nt + 4096))) AS BIGINT) AS w
      |  FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket
      |  CROSS JOIN nt CROSS JOIN nr),
      |pd AS (SELECT doc_id, bucket, COUNT(*) AS c FROM cf GROUP BY 1, 2),
      |agg AS (SELECT pd.doc_id,
      |    CAST(SUM(pd.c * w.w) AS BIGINT) AS dsir_fp,
      |    CAST(SUM(pd.c) AS BIGINT) AS n_feats
      |  FROM pd JOIN w ON pd.bucket = w.bucket GROUP BY 1)
      |SELECT doc_id, n_feats, dsir_fp,
      |  CAST(dsir_fp AS DOUBLE) / n_feats AS dsir_avg
      |FROM agg ORDER BY dsir_avg DESC, doc_id LIMIT 20""".stripMargin
  private val q195Sql = dsirSqlFor("doc_id % 7 = 0")

  // ---------------------------------------------------------------
  // q201 — ERASURE IN THE DSIR TARGET STORE ([[graft.operators
  // .DataSelection.writeDsirTargetStore]] / [[DataSelection
  // .deleteFromDsirTargetStore]] / [[DataSelection.compactDsirStore]]):
  // the q189 count-store lifecycle on the SELECTION model — the
  // curated target distribution appends in two slices
  // (doc_id % 7 = 0 split by % 2), a takedown erases the % 5 = 0
  // sub-slice by its negated bucket counts, selection serves from
  // the masked store (a bucket netted to zero behaves exactly as
  // never-seen: add-one smoothing maps 0 and absent to the same
  // weight), then the store COMPACTS (negative-net-count guard
  // armed, net-zero buckets dropped) and serves again — identical
  // in-plan (the q180 equality-gate discipline). Oracle: q195's
  // chain with the target fit on the remaining curated slices.
  private def q201(s: SparkSession, dir: String): DataFrame = {
    val DS = graft.operators.DataSelection
    val docs = Tables.documents(s, dir)
    val target = docs.filter(col("doc_id") % 7 === 0)
    val cand = docs.filter(col("doc_id") % 7 =!= 0)
    StoreGates.withTempStore(s, "graft_q201_dsir") { root =>
      // independent appends (distinct batch ids) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => DS.writeDsirTargetStore(target.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", buckets = 4096, root, batchId = 1L),
        () => DS.writeDsirTargetStore(target.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", buckets = 4096, root, batchId = 2L)))
      DS.deleteFromDsirTargetStore(target.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", buckets = 4096, root, batchId = 3L)
      val masked = DS.dsirTopKFromStore(s, root, cand,
        "doc_id", "text", buckets = 4096, k = 20)
      DS.compactDsirStore(s, root, newBatchId = 4L)
      val compacted = DS.dsirTopKFromStore(s, root, cand,
        "doc_id", "text", buckets = 4096, k = 20)
      StoreGates.compactionIdentityGate(masked, compacted,
          "DSIR-store compaction changed served selection")
        .orderBy(desc("dsir_avg"), col("doc_id"))
        .transform(Checkpoints.pin)
    }
  }
  private val q201Sql = dsirSqlFor("doc_id % 7 = 0 AND doc_id % 5 <> 0")

  // ---------------------------------------------------------------
  // q202 — STREAMED DSIR TARGET MAINTENANCE ([[graft.operators
  // .DataSelection.dsirStoreSink]]): the q194/q200 exactly-once
  // foreachBatch discipline on the selection model — the curated
  // target staged as two parquet files, one per micro-batch through
  // the checkpointed file source, each epoch appending its bucket-
  // count delta (single dir, replay no-ops; DataSelectionSpec pins
  // the sink). Served selection is independent of epoch chunking
  // (bucket counts merge by SUM): the oracle is q195's single-shot
  // fit verbatim.
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val DS = graft.operators.DataSelection
    val docs = Tables.documents(s, dir)
    val target = docs.filter(col("doc_id") % 7 === 0)
    StoreGates.withStreamedStore(s, "graft_q202",
      slices = Seq(target.filter(col("doc_id") % 2 === 0),
        target.filter(col("doc_id") % 2 === 1)),
      sink = store => DS.dsirStoreSink("doc_id", "text", buckets = 4096, store)
    ) { store =>
      DS.dsirTopKFromStore(s, store, docs.filter(col("doc_id") % 7 =!= 0),
        "doc_id", "text", buckets = 4096, k = 20)
    }
  }
  private val q202Sql = q195Sql

  // ---------------------------------------------------------------
  // q221 — THE STREAMED END-TO-END CURATION DAG ([[graft.operators
  // .CurationPipeline]]): one Structured-Streaming pipeline composing
  // the stages this library gates individually — markup strip →
  // boilerplate strip served from the pre-trained line-df store
  // (q216) → exact dedup against the signature store + in-batch
  // first-arrival keeper (q132/q142's incremental discipline; the
  // stream MAINTAINS the store, epoch-committed) → quality-classifier
  // gate from the pre-trained store (q210) → LM perplexity gate at an
  // ABSOLUTE cut (the streamed twin of q211's quantile — per-doc
  // deterministic, so slicing cannot change the kept set) →
  // deterministic per-source mixture coin → exactly-once kept commit
  // → post-stream [[Packing.packSequences]] export. The stream feeds
  // three epoch slices (planted cross-epoch duplicate copies arrive
  // AFTER their originals; slice files get explicit mtimes so the
  // file source's processing order is the slice order). Oracle:
  // DuckDB replays the ENTIRE DAG — line-df model from the originals,
  // strip, (epoch, id)-ordered dedup, the NB argmax, the Laplace
  // fixed-point LM scores, the md5 mixture coin, and the hash-ordered
  // packing prefix sums — one drifted stage anywhere breaks the hash.
  /** q221/q223 shared harness: pre-train the three model stores,
    * stage the three epoch-slice files (mtimes pinned so the file
    * source processes slices IN EPOCH ORDER — dedup keeps first
    * arrival, so order is semantic here, unlike the order-free
    * count-store sinks), then hand `runStream` a restartable "process
    * everything currently staged" closure plus a "stage more slices"
    * closure; finish with the packed-shard export. */
  private def withCurationDag(s: SparkSession, dir: String, prefix: String,
      ledger: Boolean = false,
      nearDup: Option[graft.operators.CurationPipeline.NearDup] = None,
      retireLedgerBelow: Option[Long] = None)(
      runStream: (Seq[Long] => Unit, () => Unit) => Unit): DataFrame = {
    val CP = graft.operators.CurationPipeline
    val docs = Tables.documents(s, dir)
    val marked = docs.select(col("doc_id"), col("source"), concat(
      lit("<nav>menu "), col("source"), lit("</nav>\n<p>"),
      col("text"), lit("</p>\n<footer>(c) "), col("source"),
      lit("</footer>")).as("text"))
    val copies = marked
      .filter(col("doc_id") % 11 === 0 && col("doc_id") % 3 =!= 2)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        col("source"), col("text"))
    val epochOf = when(col("doc_id") < 10000000L, col("doc_id") % 3)
      .otherwise((col("doc_id") - 10000000L) % 3 + 1)
    val stream = marked.unionByName(copies).withColumn("__epoch", epochOf)
    StoreGates.withTempStore(s, prefix) { base =>
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      val stores = CP.Stores(lineDf = p("ldf"), quality = p("qual"),
        lm = p("lm"), signatures = p("sig"), kept = p("kept"),
        ledger = if (ledger) Some(p("led")) else None)
      // pre-trained models: line-df on the stripped-markup originals
      // (what the serve strips against), quality + LM on the RAW
      // originals (history text, labels from the n_chars rule) —
      // three independent stores, built CONCURRENTLY (guide §2.6, r18)
      graft.operators.ParallelJobs.run(Seq(
        () => graft.operators.Boilerplate.writeLineDfStore(
          marked.withColumn("text",
            graft.operators.Boilerplate.stripMarkup(col("text"))),
          "doc_id", "source", "text", stores.lineDf, batchId = 1L),
        () => graft.operators.QualityClassifier.writeQualityStore(
          docs.withColumn("label",
            when(col("n_chars") >= 300, lit("good")).otherwise(lit("bad"))),
          "label", "text", buckets = 4096, root = stores.quality,
          batchId = 1L),
        () => graft.operators.LanguageModel.writeLmStore(docs, "doc_id",
          "text", stores.lm, batchId = 1L)))
      val gates = CP.Gates(minDf = 10L, buckets = 4096,
        keepLabel = "good", lmCutAvgFp = 3.6e7,
        mixKeep = substring(col("source"), 4, 10).cast("int") % 2 =!= 0 ||
          pmod(graft.operators.TextFunctions.hash60(
            concat(col("source"), lit(":"), col("doc_id").cast("string"))),
            lit(4L)) < 2,
        nearDup = nearDup)
      val ckpt = p("ckpt")
      // arrival order is semantic (dedup keeps first arrival) — the
      // shared pinned-mtime staging discipline
      val stager = new StoreGates.PinnedMtimeStager(s, p("stage"))
      val stage = stager.stage
      val stageSlices: Seq[Long] => Unit = epochs =>
        epochs.foreach(e => stager.stageSlice(
          stream.filter(col("__epoch") === e).drop("__epoch")))
      // one model cache across the run's epochs AND restarts (the
      // pre-trained stores never change mid-stream here; the dedup
      // signature store does, and is deliberately NOT model-cached)
      val models = new graft.operators.ModelCache
      val drain: () => Unit = () =>
        StoreGates.drainFileStream(s, stream.drop("__epoch").schema, stage,
          ckpt)(CP.sink(stores, gates, "doc_id", "source", "text",
          models = Some(models)))
      try runStream(stageSlices, drain)
      finally models.releaseAll()
      // the retention leg: drop whole ledger epochs below the cutoff
      // BEFORE the serve — the gate then proves funnel completeness
      // over exactly the retained window
      retireLedgerBelow.foreach(cut =>
        CP.retireLedgerBefore(s, stores.ledger.get, cut))
      if (ledger)
        CP.readLedger(s, stores.ledger.get, "doc_id")
          .select(col("doc_id"), col("source"), col("stage"),
            (col("batch") - 1).cast("long").as("epoch"))
          .orderBy(col("doc_id"))
          .transform(Checkpoints.pin) // owns the data; the temp stores delete now
      else
        CP.packedShards(s, stores, "doc_id", "text",
            shards = 4, budgetTokens = 512)
          .transform(Checkpoints.pin) // owns the data; the temp stores delete now
    }
  }

  private def q221(s: SparkSession, dir: String): DataFrame =
    withCurationDag(s, dir, "graft_q221") { (stage, drain) =>
      stage(Seq(0L, 1L, 2L)); drain()
    }

  // ---------------------------------------------------------------
  // q223 — q221's DAG KILLED AND RESTARTED (the q143 discipline on
  // the curation pipeline): phase 1 stages only epoch 0 and drains
  // it; the query dies; more slices land; phase 2 resubmits the same
  // job from the SAME checkpoint. Correctness rests on checkpoint
  // recovery composing with every store's idempotence — a recovery
  // that replays epoch 0 must no-op against the committed kept batch
  // (not double-commit), and the restarted stream's dedup must see
  // epoch 0's signatures as HISTORY (the planted copies arriving in
  // epochs 1–2 still dedup against content committed before the
  // kill). Oracle: identical to q221 — the restart must be invisible.
  private def q223(s: SparkSession, dir: String): DataFrame =
    withCurationDag(s, dir, "graft_q223") { (stage, drain) =>
      stage(Seq(0L)); drain() // phase 1, then the job dies
      stage(Seq(1L, 2L)); drain() // resubmitted from the checkpoint
    }

  // ---------------------------------------------------------------
  // q224 — THE DISPOSITION LEDGER (q221's DAG with [[graft.operators
  // .CurationPipeline.Stores.ledger]] enabled): the observability
  // surface a production pipeline carries — one row per streamed doc
  // per epoch recording the FIRST gate that dropped it (dedup |
  // quality | lm | mixture) or `kept`. Ledger rows are id-projected
  // anti-joins over the slice's pinned stage sets (delta-sized, never
  // a corpus exchange), committed epoch-exactly-once BEFORE the kept
  // batch (the signature-store crash-window discipline —
  // Round15Spec). Oracle: the full q221 DAG replay, finishing with a
  // per-doc CASE over membership in each stage's survivor CTE — one
  // drifted verdict anywhere in 531 docs breaks the hash.
  private def q224(s: SparkSession, dir: String): DataFrame =
    withCurationDag(s, dir, "graft_q224", ledger = true) { (stage, drain) =>
      stage(Seq(0L, 1L, 2L)); drain()
    }
  /** Each streamed doc's first failing stage over the curation chain's
    * survivor CTEs (q224/q243's ledger oracle). Unstripped. */
  private lazy val ledgerStagesSelect =
    """SELECT r.doc_id, r.source, CAST(r.epoch AS BIGINT) AS epoch,
      |  CASE WHEN d.doc_id IS NULL THEN 'dedup'
      |       WHEN g.doc_id IS NULL THEN 'quality'
      |       WHEN l.doc_id IS NULL THEN 'lm'
      |       WHEN m.doc_id IS NULL THEN 'mixture'
      |       ELSE 'kept' END AS stage
      |FROM reb r
      |LEFT JOIN ded d ON r.doc_id = d.doc_id
      |LEFT JOIN goodk g ON r.doc_id = g.doc_id
      |LEFT JOIN lmk l ON r.doc_id = l.doc_id
      |LEFT JOIN mix m ON r.doc_id = m.doc_id"""
  private lazy val q224Sql = curationChainSql + s"""
      |$ledgerStagesSelect
      |ORDER BY r.doc_id""".stripMargin
  // ---------------------------------------------------------------
  // q243 — LEDGER RETENTION IN THE LIFECYCLE (q224's chain +
  // [[graft.operators.CurationPipeline.retireLedgerBefore]] before
  // the serve): a production audit surface is retained by window, not
  // forever (~18 GB/yr at daily 10M-doc slices — SCALE.md's growth
  // audit), so the gate proves the retention maintenance composes
  // with the funnel guarantee — epochs 0 retired as WHOLE units, and
  // over the retained window (epochs 1–2) every streamed doc still
  // appears exactly once with its first-failing-stage attribution.
  // Oracle: q224's full-DAG replay restricted to the retained epochs.
  private def q243(s: SparkSession, dir: String): DataFrame =
    withCurationDag(s, dir, "graft_q243", ledger = true,
      retireLedgerBelow = Some(2L)) { (stage, drain) =>
      stage(Seq(0L, 1L, 2L)); drain()
    }
  private lazy val q243Sql = curationChainSql + s"""
      |$ledgerStagesSelect
      |WHERE r.epoch >= 1
      |ORDER BY r.doc_id""".stripMargin

  /** The q221/q223/q224 shared oracle chain: the ENTIRE curation DAG
    * replayed in DuckDB through the `mix` CTE (final kept doc ids) —
    * q221/q223 append the packing prefix sums, q224 the per-doc
    * disposition join. */
  private lazy val curationChainSql = curationChain(
    """ded AS (SELECT doc_id, source, n_chars, text FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY md5(text) ORDER BY epoch, doc_id) AS rn FROM reb)
      |  WHERE rn = 1)""".stripMargin)

  /** The chain with the DEDUP stage swappable: `dedCtes` must end in
    * a CTE named `ded` with columns (doc_id, source, n_chars, text) —
    * the exact first-arrival keeper for q221/q223/q224, the per-epoch
    * MinHash fold for q241. Pre-strip the margin of `dedCtes`; no
    * line of it may START with `||` (the outer stripMargin would eat
    * the first pipe). */
  private def curationChain(dedCtes: String): String = {
    s"""WITH str AS (
      |  SELECT doc_id, source, n_chars, text, doc_id % 3 AS epoch
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, source, n_chars, text, doc_id % 3 + 1
      |  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 3 <> 2),
      |lined AS (SELECT doc_id, source, n_chars, epoch,
      |    regexp_replace(
      |      '<nav>menu ' || source || '</nav>' || chr(10) || '<p>' || text
      |      || '</p>' || chr(10) || '<footer>(c) ' || source || '</footer>',
      |      '<[^>]*>', ' ', 'g') AS ltext
      |  FROM str),
      |mls AS (SELECT doc_id, source, string_split(ltext, chr(10)) AS ls
      |  FROM lined WHERE doc_id < 10000000),
      |mlines AS (SELECT DISTINCT doc_id, source,
      |    ${dHash("ls[u.i]")} AS lh
      |  FROM mls, UNNEST(generate_series(1, len(ls))) u(i)),
      |boiler AS (SELECT source, lh FROM (
      |    SELECT source, lh, COUNT(*) AS df FROM mlines GROUP BY 1, 2)
      |  WHERE df >= 10),
      |sls AS (SELECT doc_id, source, n_chars, epoch,
      |    string_split(ltext, chr(10)) AS ls FROM lined),
      |slines AS (SELECT doc_id, source, n_chars, epoch, u.i AS pos,
      |    ls[u.i] AS line
      |  FROM sls, UNNEST(generate_series(1, len(ls))) u(i)),
      |skept AS (SELECT l.doc_id, l.source, l.n_chars, l.epoch, l.pos, l.line
      |  FROM slines l LEFT JOIN boiler b
      |    ON l.source = b.source AND ${dHash("l.line")} = b.lh
      |  WHERE b.lh IS NULL),
      |reb AS (SELECT doc_id, source, n_chars, epoch,
      |    string_agg(line, chr(10) ORDER BY pos) AS text
      |  FROM skept GROUP BY 1, 2, 3, 4),
      |$dedCtes,
      |${nbTrainCtes("documents")}
      |ca AS (SELECT doc_id, ${dTokensOf("text")} AS toks FROM ded),
      |$nbScoreCtes
      |goodk AS (SELECT doc_id FROM (
      |  SELECT doc_id, label, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score_fp DESC, label) AS rn FROM sc)
      |  WHERE rn = 1 AND label = 'good'),
      |ltr AS (SELECT $dTokens AS t FROM documents),
      |lbg AS (SELECT t[i] AS w1, t[i+1] AS w2
      |  FROM ltr, unnest(generate_series(1, len(t) - 1)) u(i)
      |  WHERE len(t) >= 2),
      |lcb AS (SELECT w1, w2, COUNT(*) AS cnt FROM lbg GROUP BY 1, 2),
      |lcl AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS cl FROM lcb GROUP BY 1),
      |lv AS (SELECT COUNT(DISTINCT w2) AS v FROM lcb),
      |cbg AS (SELECT d.doc_id, t.t[i] AS w1, t.t[i+1] AS w2
      |  FROM ded d JOIN goodk USING (doc_id)
      |  JOIN (SELECT doc_id, ${dTokensOf("text")} AS t FROM ded) t USING (doc_id),
      |  unnest(generate_series(1, len(t.t) - 1)) u(i)
      |  WHERE len(t.t) >= 2),
      |lsc AS (SELECT b.doc_id,
      |    CAST(floor(CAST(COALESCE(lcb.cnt, 0) + 1 AS DOUBLE) * 1073741824.0
      |      / (COALESCE(lcl.cl, 0) + lv.v)) AS BIGINT) AS c
      |  FROM cbg b LEFT JOIN lcb ON b.w1 = lcb.w1 AND b.w2 = lcb.w2
      |  LEFT JOIN lcl ON b.w1 = lcl.w1 CROSS JOIN lv),
      |lmk AS (SELECT doc_id FROM (
      |    SELECT doc_id, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS lm_avg
      |    FROM lsc GROUP BY 1)
      |  WHERE lm_avg >= 36000000.0),
      |mix AS (SELECT d.doc_id, d.text FROM ded d
      |  JOIN goodk USING (doc_id) JOIN lmk USING (doc_id)
      |  WHERE CAST(substr(d.source, 4) AS INTEGER) % 2 <> 0
      |     OR ${dHash("d.source || ':' || CAST(d.doc_id AS VARCHAR)")} % 4 < 2)""".stripMargin
  }

  private lazy val q221Sql = curationChainSql + "," + packingTailSql

  // ---------------------------------------------------------------
  // q241 — THE CURATION DAG WITH NEAR-DUP ADMISSION (q221's stream
  // with [[graft.operators.CurationPipeline.Gates.nearDup]] on): the
  // dedup stage upgrades from exact-only to the RefinedWeb shape — a
  // slice doc is suppressed when its STRIPPED text is an exact OR
  // banded-MinHash (Jaccard >= 0.5) duplicate of PRIOR epochs' kept
  // content; in-slice near dups are both kept, in-slice exact dups
  // keep the min id; kept signatures persist as banded MinHash rows
  // (Bloom-sidecarred, the q239 layout). Everything downstream
  // (classifier, LM gate, mixture, packing) is q221's verbatim.
  // Oracle: the shared chain with the `ded` CTE swapped for the
  // per-epoch MinHash fold (the q238 discipline over the stripped
  // text, epochs 0..3 — near-dup is NOT reducible to a global
  // first-arrival window, so the fold is explicit).
  private def q241(s: SparkSession, dir: String): DataFrame =
    withCurationDag(s, dir, "graft_q241",
      nearDup = Some(graft.operators.CurationPipeline.NearDup(
        k = 16, shingleN = 3, bands = 8, threshold = 0.5))) {
      (stage, drain) => stage(Seq(0L, 1L, 2L)); drain()
    }
  private lazy val q241Sql =
    curationChain(nearDupDedCtes) + "," + packingTailSql

  /** The near-dup `ded` CTE stack: MinHash signatures over the
    * STRIPPED text (`reb`), then the 4-epoch admission fold — each
    * epoch's exact/band/Jaccard checks run against the union of
    * prior epochs' ADMITTED sets only (the q238 oracle discipline).
    * Margin pre-stripped (the [[curationChain]] contract). */
  private lazy val nearDupDedCtes: String = {
    import graft.operators.Dedup.{minhashPermA, minhashPermB, MinhashPrime}
    val mh = (0 until 16).map(j =>
      s"list_min(list_transform(hs, h -> (${minhashPermA(j)} * h + ${minhashPermB(j)}) % $MinhashPrime)) AS mh$j")
      .mkString(",\n ")
    val bandSelects = (0 until 8).map(b =>
      s"SELECT doc_id, epoch, $b AS band, CAST(mh${2 * b} AS VARCHAR) " +
        s"|| '_' || CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM nsigs")
      .mkString("\n UNION ALL ")
    val jac = "CAST(len(list_intersect(sb.hs, sh.hs)) AS DOUBLE) / " +
      "(len(sb.hs) + len(sh.hs) - len(list_intersect(sb.hs, sh.hs)))"
    def fold(e: Int, prior: String): String =
      s"""nex$e AS MATERIALIZED (SELECT DISTINCT b.doc_id FROM nt b
        |  JOIN nt h ON b.chash = h.chash
        |  JOIN $prior a ON a.doc_id = h.doc_id WHERE b.epoch = $e),
        |ncand$e AS MATERIALIZED (SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
        |  FROM nbk b JOIN nbk h ON b.band = h.band AND b.key = h.key
        |  JOIN $prior a ON a.doc_id = h.doc_id WHERE b.epoch = $e),
        |nnear$e AS MATERIALIZED (SELECT DISTINCT c.bid FROM ncand$e c
        |  JOIN nhb sb ON c.bid = sb.doc_id
        |  JOIN nhb sh ON c.hid = sh.doc_id WHERE $jac >= 0.5),
        |nadm$e AS MATERIALIZED (SELECT doc_id FROM (
        |  SELECT b.doc_id, row_number() OVER (
        |      PARTITION BY b.chash ORDER BY b.doc_id) AS rn
        |  FROM nt b WHERE b.epoch = $e
        |    AND b.doc_id NOT IN (SELECT doc_id FROM nex$e)
        |    AND b.doc_id NOT IN (SELECT bid FROM nnear$e)) WHERE rn = 1)"""
        .stripMargin
    s"""nt AS MATERIALIZED (SELECT doc_id, epoch, md5(text) AS chash,
      |  ${dTokensOf("text")} AS toks FROM reb),
      |nth AS (SELECT doc_id, epoch, chash,
      |  list_transform(toks, x -> ${dHash("x")} % 4294967296) AS th FROM nt),
      |nhb AS MATERIALIZED (SELECT doc_id, epoch, chash,
      |  list_distinct(list_transform(range(1, len(th) - 1),
      |    i -> ((((th[i] * 65599 + th[i+1]) % 4294967311) * 65599 + th[i+2]) % 4294967311) % 4294967296)) AS hs
      |  FROM nth),
      |nsigs AS MATERIALIZED (SELECT doc_id, epoch, hs, $mh FROM nhb WHERE len(hs) > 0),
      |nbk AS MATERIALIZED ($bandSelects),
      |nadm0 AS MATERIALIZED (SELECT doc_id FROM (
      |  SELECT doc_id, row_number() OVER (
      |      PARTITION BY chash ORDER BY doc_id) AS rn
      |  FROM nt WHERE epoch = 0) WHERE rn = 1),
      |${fold(1, "nadm0")},
      |nadmh1 AS MATERIALIZED (SELECT doc_id FROM nadm0 UNION ALL SELECT doc_id FROM nadm1),
      |${fold(2, "nadmh1")},
      |nadmh2 AS MATERIALIZED (SELECT doc_id FROM nadmh1 UNION ALL SELECT doc_id FROM nadm2),
      |${fold(3, "nadmh2")},
      |ded AS MATERIALIZED (SELECT r.doc_id, r.source, r.n_chars, r.text FROM reb r
      |  JOIN (SELECT doc_id FROM nadmh2
      |        UNION ALL SELECT doc_id FROM nadm3) a USING (doc_id))"""
      .stripMargin
  }

  private lazy val packingTailSql = s"""
      |pk AS (SELECT doc_id, ${dHash("CAST(doc_id AS VARCHAR)")} AS h,
      |    CAST(len(${dTokensOf("text")}) AS BIGINT) AS n_tokens FROM mix),
      |pc AS (SELECT doc_id, h % 4 AS shard, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY h % 4
      |      ORDER BY h, CAST(doc_id AS VARCHAR)
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM pk)
      |$packStatsSelect""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q241_curation_neardup", q241, Some(q241Sql)),
    QueryDef("q221_curation_streamed", q221, Some(q221Sql)),
    QueryDef("q223_curation_restarted", q223, Some(q221Sql)),
    QueryDef("q224_curation_ledger", q224, Some(q224Sql)),
    QueryDef("q243_ledger_retention", q243, Some(q243Sql)),
    QueryDef("q201_dsir_store_erasure", q201, Some(q201Sql)),
    QueryDef("q202_dsir_store_streamed", q202, Some(q202Sql)),
    QueryDef("q209_boilerplate_strip", q209, Some(q209Sql)),
    QueryDef("q210_quality_classifier_store", q210, Some(q210Sql)),
    QueryDef("q211_lm_quality_filter", q211, Some(q211Sql)),
    QueryDef("q212_markup_boilerplate", q212, Some(q212Sql)),
    QueryDef("q213_quality_store_streamed", q213, Some(q213Sql)),
    QueryDef("q214_curation_pipeline", q214, Some(q214Sql)),
    QueryDef("q216_boilerplate_store", q216, Some(q216Sql)),
    QueryDef("q47_salted_agg", q47, Some(q47Sql)),
    QueryDef("q195_dsir_selection", q195, Some(q195Sql)),
    QueryDef("q76_heavy_hitters", q76, Some(q76Sql)),
    QueryDef("q80_approx_median", q80, Some(q80Sql)),
    QueryDef("q70_stratified_sample", q70, Some(q70Sql)),
    QueryDef("q71_apply_mixture", q71, Some(q71Sql)),
    QueryDef("q48_hash_sample", q48, Some(q48Sql)),
    QueryDef("q49_cap_per_group", q49, Some(q49Sql)),
    QueryDef("q50_stable_hash_sk", q50, Some(q50Sql)),
    QueryDef("q53_shard_budgets", q53, Some(q53Sql)),
    QueryDef("q57_approx_distinct", q57, Some(q57Sql)),
    QueryDef("q101_sketch_rollup", q101, Some(q101Sql)),
    QueryDef("q58_salted_distinct", q58, Some(q58Sql)),
    QueryDef("q62_mixture_weights", q62, Some(q62Sql)),
    QueryDef("q64_sequence_packing", q64, Some(q64Sql)),
    QueryDef("q227_epoch_shuffle", q227, Some(q227Sql)),
    QueryDef("q228_kept_erasure", q228, Some(q228Sql)),
    QueryDef("q235_incremental_packing", q235, Some(q235Sql)),
    QueryDef("q236_incremental_packing_streamed", q236, Some(q235Sql)),
    QueryDef("q126_contiguous_shards", q126, Some(q126Sql)),
    QueryDef("q65_length_trim", q65, Some(q65Sql)),
  )
}
