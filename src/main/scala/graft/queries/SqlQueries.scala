package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Checkpoints

/** The `spark.sql` entry surface over the testdata, oracle-gated —
  * proof that the engine's SQL front door (temp views + full Catalyst
  * parse → analyze → optimize → codegen) produces byte-identical
  * results to the DataFrame DSL path. The RCM star schema has the same
  * twin surface in [[graft.analytics.RcmAnalyticsSql]], pinned
  * DSL-vs-SQL by RcmAnalyticsSqlSpec; this module puts one SQL-string
  * query into the driver's DuckDB gate itself.
  *
  * Scale notes: identical to the DSL twins — SQL and DSL build the
  * same logical plan, so pushdown/broadcast/partial-agg behavior is
  * unchanged (PlanSpec pins the star-join shape).
  */
object SqlQueries {

  private def registerViews(s: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))

  // ---------------------------------------------------------------
  // q46 — revenue by segment and year through the SQL front door
  // (J6/A3/A8/X8/O1 via spark.sql; the SQL twin of the q03/q04 DSL
  // shapes). Decimal-aggregate-then-cast keeps the double
  // order-independent, so the DuckDB hash matches exactly.
  private def q46(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir, "lineitem", "orders", "customer")
    s.sql("""SELECT c_mktsegment, year(o_orderdate) AS order_year,
            |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            |           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
            |  COUNT(*) AS n_items
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |GROUP BY c_mktsegment, year(o_orderdate)
            |ORDER BY c_mktsegment, order_year""".stripMargin)
  }
  private val q46Sql =
    """SELECT c_mktsegment, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q77 — the native kernels through the SQL front door: the
  // SparkSessionExtensions-injected `graft_hash60` / `graft_dot`
  // functions ([[graft.plans.GraftExtensions]]) called from plain
  // `spark.sql`, oracle-gated. Deterministic hash sharding + the
  // squared norm of every embedding — one map-side pass; the analysis-
  // time function resolution yields the exact plan the DSL builds
  // (pinned in ExtensionsSpec).
  private def q77(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir, "embeddings")
    s.sql("""SELECT vec_id,
            |  pmod(graft_hash60(CAST(vec_id AS STRING)), 8) AS shard,
            |  graft_dot(embedding, embedding) AS norm_sq
            |FROM embeddings ORDER BY vec_id""".stripMargin)
  }
  private val q77Sql =
    """SELECT vec_id,
      |  CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
      |  list_inner_product(CAST(embedding AS DOUBLE[]),
      |                     CAST(embedding AS DOUBLE[])) AS norm_sq
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // q98 — arbitrary GROUPING SETS through the SQL front door: the
  // per-flag, per-status, and grand-total aggregates of lineitem in
  // ONE pass (Spark's Expand, like q87's CUBE, but with an explicit
  // irregular set list CUBE/ROLLUP can't express — (flag) and (status)
  // without (flag, status)). Labels coalesce so no null keys reach the
  // output; the GROUPING bits are emitted per dimension because the
  // combined grouping_id's bit order differs across engines.
  private def q98(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir, "lineitem")
    s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS return_flag,
            |  COALESCE(l_linestatus, 'ALL') AS line_status,
            |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
            |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
            |  COUNT(*) AS n_items,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            |FROM lineitem
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            |ORDER BY g_flag, g_status, return_flag, line_status""".stripMargin)
  }
  private val q98Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS return_flag,
      |  COALESCE(l_linestatus, 'ALL') AS line_status,
      |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY g_flag, g_status, return_flag, line_status""".stripMargin

  // ---------------------------------------------------------------
  // q103 — correlated subqueries through the SQL front door: a
  // correlated SCALAR subquery (each order against its customer's own
  // average, spelled as exact-decimal sum x count so the comparison is
  // ulp-proof cross-engine — Catalyst's RewriteCorrelatedScalarSubquery
  // turns each into an aggregate + join, never per-row re-execution),
  // and a
  // correlated NOT EXISTS (planned as the same broadcast anti join
  // q13 builds in the DSL). Exercises the analyzer's decorrelation
  // path, which no DSL query reaches.
  private def q103(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir, "orders", "customer")
    s.sql(q103Sql)
  }
  /** Plain SQL both engines run verbatim. */
  private lazy val q103Sql =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_above_own_avg,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS above_avg_revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE CAST(o_totalprice AS DECIMAL(12,2))
      |        * (SELECT COUNT(*) FROM orders o2
      |           WHERE o2.o_custkey = orders.o_custkey)
      |      > (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(12,2)))
      |         FROM orders o2 WHERE o2.o_custkey = orders.o_custkey)
      |  AND NOT EXISTS (SELECT 1 FROM orders o3
      |                  WHERE o3.o_custkey = orders.o_custkey
      |                    AND o3.o_orderstatus = 'F'
      |                    AND o3.o_totalprice > 450000)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** In-query proof that the rollup rewrite FIRED: `out`'s optimized
    * plan must scan ONLY the rollup at `root` — a rewrite that
    * silently stops firing fails the gate, not just a spec. */
  private def requireRollupScan(out: DataFrame, root: String,
      what: String): Unit = {
    val scans = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    require(scans.nonEmpty && scans.forall(_.contains(
        new java.io.File(root).getName)),
      s"$what rewrite did not fire: scans=$scans")
  }

  // ---------------------------------------------------------------
  // q196 — MATERIALIZED-ROLLUP REWRITE ([[graft.plans.SummaryRewrite]]
  // via [[graft.plans.GraftExtensions]]): the view-matching optimizer
  // rule end-to-end. Build the (lang, source)-granularity rollup of
  // the documents table, register it, then run a SUBSET-grouped,
  // key-filtered aggregate against the BASE table — the injected
  // `Rule[LogicalPlan]` re-targets it onto the rollup (count(*) →
  // sum(__cnt), sum/min/max → their partials), and an in-query
  // require asserts the optimized plan scans ONLY the rollup — a
  // rewrite that silently stops firing fails the gate, not just a
  // spec. Oracle: the same aggregate over the raw documents table —
  // so the gate simultaneously proves the rewrite FIRED and that it
  // changed nothing but the scan.
  private def q196(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val basePath = s"$dir/documents.parquet"
    StoreGates.withTempStore(s, "graft_q196_rollup") { summary =>
      try {
        graft.plans.SummaryRewrite.buildAndRegister(s, basePath,
          keys = Seq("lang", "source"), measures = Seq("n_chars"), summary)
        val out = s.read.parquet(basePath)
          .filter(col("source") =!= "src0")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
          .orderBy(col("lang"))
        requireRollupScan(out, summary, "summary")
        out.transform(Checkpoints.pin)
      } finally graft.plans.SummaryRewrite.deregister(basePath)
    }
  }
  private val q196Sql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents WHERE source <> 'src0'
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q203 — INCREMENTALLY-MAINTAINED ROLLUP SERVED BY THE REWRITE
  // ([[graft.plans.SummaryRewrite.appendRollupSlice]]): q94's
  // maintenance discipline meeting q196's serving rule. The rollup
  // is never built whole: two corpus slices append their PARTIAL
  // rows (one per (slice, keys)) as BatchStore batches, the root is
  // registered as-is, and the rewritten Aggregate's own
  // re-aggregation (sum of sums, min of mins, max of maxes, sum of
  // counts) merges the partials per group at query time — no
  // compaction on the query path. The in-query require again pins
  // that the optimized plan scans ONLY the rollup; the oracle is the
  // plain aggregate over the raw table — a partial row lost,
  // double-merged, or mis-decomposed breaks the hash.
  private def q203(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val basePath = s"$dir/documents.parquet"
    StoreGates.withTempStore(s, "graft_q203_rollup") { root =>
      try {
        val base = s.read.parquet(basePath)
        graft.plans.SummaryRewrite.appendRollupSlice(
          base.filter(col("doc_id") % 2 === 0),
          keys = Seq("lang", "source"), measures = Seq("n_chars"), root, 1L)
        graft.plans.SummaryRewrite.appendRollupSlice(
          base.filter(col("doc_id") % 2 =!= 0),
          keys = Seq("lang", "source"), measures = Seq("n_chars"), root, 2L)
        graft.plans.SummaryRewrite.register(s, basePath, root,
          keys = Seq("lang", "source"), measures = Seq("n_chars"))
        val out = s.read.parquet(basePath)
          .filter(col("lang") =!= "zh")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
          .orderBy(col("source"))
        requireRollupScan(out, root, "incremental-rollup")
        out.transform(Checkpoints.pin)
      } finally graft.plans.SummaryRewrite.deregister(basePath)
    }
  }
  private val q203Sql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents WHERE lang <> 'zh'
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q208 — ROLLUP FRESHNESS UNDER POST-REGISTRATION MAINTENANCE
  // ([[graft.plans.SummaryRewrite.appendRollupSlice]]'s refresh):
  // the round-13 latent hazard closed and gated. A registration
  // caches its resolved file listing, so a partial appended AFTER
  // registration used to be silently invisible to every rewritten
  // query — a stale WRONG ANSWER with no red signal. Now the append
  // re-resolves the registrations serving its root: this gate
  // registers after ONE slice, appends the second slice
  // post-registration, and runs the aggregate — the in-plan require
  // still pins that the rewrite FIRED (scans only the rollup), and
  // the oracle is the FULL-table aggregate, so serving the stale
  // half-corpus rollup fails the hash, not just a spec.
  private def q208(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val basePath = s"$dir/documents.parquet"
    StoreGates.withTempStore(s, "graft_q208_rollup") { root =>
      try {
        val base = s.read.parquet(basePath)
        graft.plans.SummaryRewrite.appendRollupSlice(
          base.filter(col("doc_id") % 2 === 0),
          keys = Seq("lang", "source"), measures = Seq("n_chars"), root, 1L)
        graft.plans.SummaryRewrite.register(s, basePath, root,
          keys = Seq("lang", "source"), measures = Seq("n_chars"))
        // maintenance lands AFTER registration — the fresh-serve point
        graft.plans.SummaryRewrite.appendRollupSlice(
          base.filter(col("doc_id") % 2 =!= 0),
          keys = Seq("lang", "source"), measures = Seq("n_chars"), root, 2L)
        val out = s.read.parquet(basePath)
          .filter(col("source") =!= "src2")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("lang"))
        requireRollupScan(out, root, "fresh-rollup")
        out.transform(Checkpoints.pin)
      } finally graft.plans.SummaryRewrite.deregister(basePath)
    }
  }
  private val q208Sql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MAX(n_chars) AS max_chars
      |FROM documents WHERE source <> 'src2'
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q205 — THE ROLLUP REWRITE THROUGH THE SQL FRONT DOOR: the same
  // view-matching rule serving a `spark.sql` TEXT query over a temp
  // view of the base table — the house DSL/SQL twin discipline
  // applied to the optimizer feature. The analyzer's
  // EliminateSubqueryAliases runs before the operator-optimization
  // batch, so by the time the injected rule sees the plan the view
  // alias is gone and the Aggregate sits directly on the scan — the
  // rewrite fires identically for SQL-text users (Thrift/Connect
  // sessions included, the GraftExtensions argument). Same in-plan
  // rewrite-fired require; oracle = the query text itself.
  private def q205(s: SparkSession, dir: String): DataFrame = {
    val basePath = s"$dir/documents.parquet"
    StoreGates.withTempStore(s, "graft_q205_rollup") { summary =>
      try {
        graft.plans.SummaryRewrite.buildAndRegister(s, basePath,
          keys = Seq("lang", "source"), measures = Seq("n_chars"), summary)
        s.read.parquet(basePath).createOrReplaceTempView("q205_docs")
        val out = s.sql(
          """SELECT lang, source, COUNT(*) AS n_docs,
            |  SUM(n_chars) AS sum_chars, MIN(n_chars) AS min_chars
            |FROM q205_docs WHERE source IN ('src1', 'src3', 'src5')
            |GROUP BY lang, source
            |ORDER BY lang, source""".stripMargin)
        requireRollupScan(out, summary, "SQL-front-door")
        out.transform(Checkpoints.pin)
      } finally graft.plans.SummaryRewrite.deregister(basePath)
    }
  }
  private val q205Sql =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(n_chars) AS min_chars
      |FROM documents WHERE source IN ('src1', 'src3', 'src5')
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------
  // q217 — STREAMED ROLLUP MAINTENANCE SERVED BY THE REWRITE
  // ([[graft.plans.SummaryRewrite.rollupSink]]): the q194/q200/q202
  // exactly-once foreachBatch discipline on the ROLLUP store — the
  // corpus arrives one slice per micro-batch, each epoch committing
  // its partial rows via the stage-and-rename append (replay
  // no-ops) AND refreshing the registrations serving the root (the
  // q208 freshness rule, now per-epoch). The registered rollup then
  // serves a rewritten aggregate over the full streamed corpus; the
  // in-plan require pins the rewrite fired, and the oracle is the
  // plain full-table aggregate — a lost epoch, a double-committed
  // replay, or a stale registration all break the hash.
  private def q217(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val basePath = s"$dir/documents.parquet"
    val base = s.read.parquet(basePath)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    try {
      StoreGates.withStreamedStore(s, "graft_q217_rollup",
        slices = Seq(base.filter(col("doc_id") % 2 === 0),
          base.filter(col("doc_id") % 2 =!= 0)),
        sink = root => graft.plans.SummaryRewrite.rollupSink(
          keys = Seq("lang", "source"), measures = Seq("n_chars"), root)
      ) { root =>
        graft.plans.SummaryRewrite.register(s, basePath, root,
          keys = Seq("lang", "source"), measures = Seq("n_chars"))
        val out = s.read.parquet(basePath)
          .filter(col("source") =!= "src1")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"))
          .orderBy(col("lang"), col("source"))
        requireRollupScan(out, root, "streamed-rollup")
        out.transform(Checkpoints.pin)
      }
    } finally graft.plans.SummaryRewrite.deregister(basePath)
  }
  private val q217Sql =
    """SELECT lang, source, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars
      |FROM documents WHERE source <> 'src1'
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------
  // q233 — THE HASHED RETRIEVAL THROUGH THE SQL FRONT DOOR: q230's
  // entire chunk-retrieval pipeline as ONE `spark.sql` statement —
  // HOF tokenization (filter∘split), window slicing
  // (transform∘sequence + posexplode), the injected `graft_hash60`
  // for buckets and signs, sparse dots, and the ranked top-3. Proves
  // the new operator family needs nothing the SQL surface can't
  // express (the q46/q77 discipline); the oracle is q230's verbatim,
  // so the front door must hash-match the DSL's results exactly.
  private def q233(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir, "documents")
    s.sql("""WITH toks AS (
        |  SELECT doc_id, filter(split(trim(text), '\\s+'), t -> t != '') AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS chunk_id, ct
        |  FROM (SELECT doc_id,
        |          posexplode(transform(sequence(1, size(t), 64),
        |            st -> slice(t, st, 64))) AS (pos, ct)
        |        FROM toks WHERE size(t) > 0)
        |  WHERE doc_id >= 3),
        |ctok AS (SELECT doc_id * 1000000 + chunk_id AS chunk_key,
        |    explode(ct) AS tok FROM ch),
        |qtok AS (SELECT doc_id AS query_id, explode(t) AS tok
        |  FROM toks WHERE doc_id < 3),
        |cf AS (SELECT chunk_key, bucket, w FROM (
        |  SELECT chunk_key, pmod(graft_hash60(tok), 512) AS bucket,
        |    SUM(CASE WHEN pmod(graft_hash60(concat('s:', tok)), 2) = 0
        |      THEN 1L ELSE -1L END) AS w
        |  FROM ctok GROUP BY 1, 2) WHERE w != 0),
        |qf AS (SELECT query_id, bucket, w FROM (
        |  SELECT query_id, pmod(graft_hash60(tok), 512) AS bucket,
        |    SUM(CASE WHEN pmod(graft_hash60(concat('s:', tok)), 2) = 0
        |      THEN 1L ELSE -1L END) AS w
        |  FROM qtok GROUP BY 1, 2) WHERE w != 0),
        |cn AS (SELECT chunk_key, SUM(w * w) AS cn2 FROM cf GROUP BY 1),
        |qn AS (SELECT query_id, SUM(w * w) AS qn2 FROM qf GROUP BY 1),
        |dots AS (SELECT q.query_id, c.chunk_key, SUM(c.w * q.w) AS dot
        |  FROM cf c JOIN qf q ON c.bucket = q.bucket GROUP BY 1, 2),
        |sc AS (SELECT d.query_id, d.chunk_key, CAST(dot AS DOUBLE)
        |      / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))
        |      AS cosine
        |  FROM dots d JOIN cn ON d.chunk_key = cn.chunk_key
        |  JOIN qn ON d.query_id = qn.query_id),
        |rk AS (SELECT query_id, chunk_key, cosine,
        |    CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, chunk_key)
        |      AS BIGINT) AS rank
        |  FROM sc)
        |SELECT query_id, rank, chunk_key, cosine FROM rk
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)
  }
  private lazy val q233Sql = TextQueries.q230Sql

  val all: Seq[QueryDef] = Seq(
    QueryDef("q233_hashed_retrieval_sql", q233, Some(q233Sql)),
    QueryDef("q46_sql_surface", q46, Some(q46Sql)),
    QueryDef("q77_sql_native_fns", q77, Some(q77Sql)),
    QueryDef("q98_grouping_sets", q98, Some(q98Sql)),
    QueryDef("q103_correlated_subqueries", q103, Some(q103Sql)),
    QueryDef("q196_rollup_rewrite", q196, Some(q196Sql)),
    QueryDef("q203_incremental_rollup_rewrite", q203, Some(q203Sql)),
    QueryDef("q205_rollup_rewrite_sql", q205, Some(q205Sql)),
    QueryDef("q208_rollup_fresh_append", q208, Some(q208Sql)),
    QueryDef("q217_rollup_streamed", q217, Some(q217Sql)),
  )
}
