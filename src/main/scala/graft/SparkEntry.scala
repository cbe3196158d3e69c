package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are registered in themed modules, each pairing a Spark
  * implementation with a DuckDB oracle (see [[graft.queries.QueryDef]]):
  *  - [[RelationalQueries]]  q01–q17: the reference's 11 analysis
  *    queries + projection/filter/join/union/scalar-function inventory
  *  - [[LifecycleQueries]]   q18–q20: surrogate keys + SCD Type 2
  *  - [[WindowQueries]]      q21–q24, q54, q99–q100: per-user windows,
  *    sessionization (explicit + native session_window), JSON,
  *    interval join, ratio-to-report
  *  - [[TextQueries]]        q25–q33, q45, q59–q63, q66, q68–q69,
  *    q97, q102: text stats/dedup/curation/multimodal + signatures
  *  - [[SimilarityQueries]]  q34–q36, q51–q52, q67, q75, q91: ANN,
  *    IVF, k-means, quantization, RP-LSH near-dup
  *  - [[ExtendedQueries]]    q37–q44, q55–q56, q78, q81, q96: rollup/
  *    semi/percentile/pivot/DQ-profile/as-of/ranking/Z-order/bloom/
  *    argmax
  *  - [[SqlQueries]]         q46, q77, q98, q103: the `spark.sql`
  *    front door (native fns, GROUPING SETS, correlated subqueries)
  *  - [[CurationQueries]]    q47–q50, q53, q57–q58, q64–q65, q70–q71,
  *    q76, q80, q101: skew-safe aggs, sampling/caps/mixtures, packing,
  *    sketches + the mergeable sketch rollup
  *  - [[VocabQueries]]       q72–q74, q90, q157–q158: tokenizer-
  *    training stats + the iterated BPE trainer and segmentation
  *  - [[LifecycleQueries]]   also q79, q86: CDC diff + MERGE
  *  - [[EventQueries]]       q83–q84, q89, q92–q93, q104–q106: funnel,
  *    gap fill, sigma/MAD outliers, trailing RANGE windows, trend
  *    slopes, transitions, cohort retention
  *  - [[ScaleQueries]]       q82, q85, q87–q88, q94–q95: salted join,
  *    histogram+CDF, CUBE, weighted deterministic sample, incremental
  *    partial-aggregate rollup, quantile binning
  *  - Round-15 session 2 additions: q224 (curation disposition
  *    ledger), q225 (prototype pruning), q226 (store as-of read),
  *    q227 (epoch reshuffle), q228 (kept-corpus takedown), q229
  *    (store schema evolution), q230–q234 (feature-hashed sparse
  *    retrieval: chunk composition, persisted store lifecycle,
  *    streamed sink, SQL front door, measured hashing recall)
  */
object SparkEntry {

  /** Each query runs in its own pin scope ([[graft.operators.Checkpoints]]):
    * pins its result does not reach are released when `run` returns. */
  val registry: Seq[QueryDef] =
    (RelationalQueries.all ++ LifecycleQueries.all ++ WindowQueries.all ++
      TextQueries.all ++ SimilarityQueries.all ++ ExtendedQueries.all ++
      SqlQueries.all ++ CurationQueries.all ++ VocabQueries.all ++
      EventQueries.all ++ ScaleQueries.all ++ ImageQueries.all ++
      ErasureQueries.all).map(q =>
      q.copy(run = (s, dir) => graft.operators.Checkpoints.scoped(q.run(s, dir))))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_global_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
