package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.{Checkpoints, DataQuality}

/** Extended analytics surface beyond the reference's own inventory:
  * rollup subtotals, semi joins, exact percentiles, ordered string
  * aggregation, pivot, and the data-quality profile (the reference's
  * validation checks as first-class operators).
  *
  * Percentile determinism: fractions are powers of two (0.25/0.5/0.75)
  * over integer-valued doubles, so linear interpolation is EXACT in
  * both engines regardless of the interpolation formula's operation
  * order.
  */
object ExtendedQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  // q37 — ROLLUP subtotals (grouping-sets surface).
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total_price"), col("n_orders"))
      .orderBy(col("status"), col("priority"))
  }
  private val q37Sql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      | COALESCE(o_orderpriority, 'ALL') AS priority,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
      | COUNT(*) AS n_orders
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // q38 — semi join (EXISTS): customers with 1995 orders.
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o95 = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey").as("c_custkey"))
    c.join(o95, Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }
  private val q38Sql =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND EXTRACT(YEAR FROM o_orderdate) = 1995)
      |ORDER BY c_custkey""".stripMargin

  // q39 — exact percentiles of quantity per return flag.
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }
  private val q39Sql =
    """SELECT l_returnflag,
      | quantile_cont(l_quantity, 0.25) AS p25,
      | quantile_cont(l_quantity, 0.5) AS p50,
      | quantile_cont(l_quantity, 0.75) AS p75,
      | COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // q40 — ordered string aggregation (listagg analog).
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("r_name"))
  }
  private val q40Sql =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
      | COUNT(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // q41 — pivot: order totals per year × status column.
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(year(col("o_orderdate")).as("order_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec(col("o_totalprice"))).cast("double"))
      .orderBy(col("order_year"))
  }
  private val q41Sql =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS F,
      | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS O,
      | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS P
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // q42 — one-pass data-quality profile (null counts + duplicate stats).
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val nulls = DataQuality.nullProfile(e,
      Seq("event_id", "user_id", "event_type", "value", "props"))
    val dups = DataQuality.duplicateStats(e, Seq("user_id", "event_type"))
      .select(lit("__dup_user_event").as("column_name"),
        col("n_rows"), col("n_duplicate_rows").as("n_nulls"))
    nulls.unionByName(dups).orderBy(col("column_name"))
  }
  private val q42Sql =
    """SELECT * FROM (
      | SELECT 'event_id' AS column_name, COUNT(*) AS n_rows,
      |   CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls FROM events
      | UNION ALL SELECT 'user_id', COUNT(*),
      |   CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
      | UNION ALL SELECT 'event_type', COUNT(*),
      |   CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
      | UNION ALL SELECT 'value', COUNT(*),
      |   CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
      | UNION ALL SELECT 'props', COUNT(*),
      |   CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
      | UNION ALL SELECT '__dup_user_event', CAST(SUM(c) AS BIGINT),
      |   CAST(SUM(c - 1) AS BIGINT)
      |   FROM (SELECT COUNT(*) AS c FROM events GROUP BY user_id, event_type))
      |ORDER BY column_name""".stripMargin

  // q43 — as-of association: attribute each purchase to the user's
  // most recent prior (or same-instant) click via last-carried-forward.
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val attributed = graft.operators.AsOf.lastCarriedForward(
      e, Seq("user_id"), Seq(col("ts"), col("event_id")),
      when(col("event_type") === "click", col("us")), "last_click_us")
    attributed.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("us").as("purchase_us"),
        col("last_click_us"),
        col("last_click_us").isNotNull.as("attributed"))
      .orderBy(col("event_id"))
  }
  private val q43Sql =
    """WITH w AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |  last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
      |  FROM events)
      |SELECT user_id, event_id, us AS purchase_us, last_click_us,
      |  last_click_us IS NOT NULL AS attributed
      |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // q44 — ranking-function suite per segment: dense_rank, ntile,
  // percent_rank, cume_dist, nth_value (ratio outputs are int-ratio
  // doubles — deterministic cross-engine). Lives here, not in
  // WindowQueries, whose scale contract is bounded per-user windows;
  // this windows by a 5-value segment key and is bounded by the
  // custkey filter.
  private def q44(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.customer(s, dir).filter(col("c_custkey") < 300)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(desc("c_acctbal"), col("c_custkey"))
    c.select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        dense_rank().over(w).cast("long").as("drank"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value(col("c_custkey"), 2)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("second_best"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }
  private val q44Sql =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      | dense_rank() OVER w AS drank,
      | ntile(4) OVER w AS quartile,
      | percent_rank() OVER w AS pct_rank,
      | cume_dist() OVER w AS cume,
      | nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment
      |   ORDER BY c_acctbal DESC, c_custkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_best
      |FROM customer WHERE c_custkey < 300
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // q55 — set-operation semantics (INTERSECT / EXCEPT): 1997→1998
  // customer retention cohorts. Computed as ONE scan with per-year
  // presence flags — the literal intersect/except formulation scans
  // and shuffles orders once per cohort per year (four scans); the
  // flag rewrite gets the identical sets from a single date-pruned
  // scan and a single hash shuffle on o_custkey. stack() guarantees
  // both cohort rows exist even when a cohort is empty (matching the
  // scalar-subquery oracle).
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val y = year(col("o_orderdate"))
    // half-open upper bound: o_orderdate is a timestamp, and
    // between(..., "1998-12-31") would cast the bound to midnight and
    // silently drop intra-day 1998-12-31 rows the EXTRACT(YEAR) oracle
    // keeps
    val flags = o
      .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1999-01-01")
      .groupBy(col("o_custkey"))
      .agg(max(y === 1997).as("y97"), max(y === 1998).as("y98"))
    flags
      .agg(
        count(when(col("y97") && col("y98"), 1)).as("retained"),
        count(when(col("y97") && !col("y98"), 1)).as("churned"))
      .select(expr(
        "stack(2, 'churned', churned, 'retained', retained) AS (cohort, n_customers)"))
      .orderBy(col("cohort"))
  }
  private val q55Sql =
    """WITH y97 AS (SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997),
      |y98 AS (SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1998)
      |SELECT 'retained' AS cohort,
      |  (SELECT COUNT(*) FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)) AS n_customers
      |UNION ALL
      |SELECT 'churned',
      |  (SELECT COUNT(*) FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98))
      |ORDER BY cohort""".stripMargin

  // ---------------------------------------------------------------
  // q56 — fuzzy match via levenshtein (identical DP edit distance in
  // both engines): near-identical part names within a brand bucket.
  // The bucket bounds the pair product, same discipline as
  // ngramJaccardPairs.
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(
      col("p_partkey"), col("p_brand"), col("p_name"))
    val a = p.select(col("p_brand"), col("p_partkey").as("id_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_brand"), col("p_partkey").as("id_b"), col("p_name").as("name_b"))
    a.join(b, Seq("p_brand")).filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 10)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_close_pairs"), min(col("dist")).as("min_dist"))
      .orderBy(col("p_brand"))
  }
  private val q56Sql =
    """SELECT a.p_brand, COUNT(*) AS n_close_pairs,
      |  CAST(MIN(levenshtein(a.p_name, b.p_name)) AS INTEGER) AS min_dist
      |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 10
      |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin

  // ---------------------------------------------------------------
  // q78 — Z-order layout buckets: orders gridded on (custkey mod 256,
  // order-day mod 256), Morton-interleaved, bucketed by the top z
  // bits. Each bucket's min/max on BOTH dimensions stays a small
  // aligned square — the property that makes parquet row-group stats
  // prune two-dimensional predicates after a z-ordered write (see
  // [[graft.operators.Layout]]; file-level shrinkage pinned in
  // LayoutSpec). The interleave is shift/mask integer arithmetic,
  // bit-identical cross-engine.
  private def q78(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val o = Tables.orders(s, dir)
      .select(
        pmod(col("o_custkey"), lit(256L)).as("cust_mod"),
        pmod(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"), lit(256L))
          .as("day_mod"))
    o.withColumn("z", Layout.morton2(col("cust_mod"), col("day_mod"), bits = 8))
      .groupBy(shiftright(col("z"), 10).as("z_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("cust_mod")).as("min_cust"), max(col("cust_mod")).as("max_cust"),
        min(col("day_mod")).as("min_day"), max(col("day_mod")).as("max_day"))
      .orderBy(col("z_bucket"))
  }
  private val q78Sql = {
    val z = graft.operators.Layout.morton2Sql("cust_mod", "day_mod", bits = 8)
    """WITH d AS (SELECT o_custkey % 256 AS cust_mod,
      |  date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) % 256 AS day_mod
      |  FROM orders),
      |zt AS (SELECT cust_mod, day_mod, ZEXPR AS z FROM d)
      |SELECT z >> 10 AS z_bucket, COUNT(*) AS n_orders,
      |  MIN(cust_mod) AS min_cust, MAX(cust_mod) AS max_cust,
      |  MIN(day_mod) AS min_day, MAX(day_mod) AS max_day
      |FROM zt GROUP BY 1 ORDER BY 1""".stripMargin.replace("ZEXPR", z)
  }

  // ---------------------------------------------------------------
  // q81 — bloom-pruned semi join: lineitems of high-value orders. The
  // bloom prefilter drops non-matching lineitem rows map-side BEFORE
  // the join shuffle; the exact semi join scrubs false positives, so
  // the oracle is the plain IN-subquery — the sketch changes cost,
  // never the answer (see [[graft.operators.BloomPrune]]).
  private def q81(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BloomPrune
    val keys = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"))
    BloomPrune.semiJoin(Tables.lineitem(s, dir), col("l_orderkey"),
        keys, "o_orderkey", expectedKeys = 20000L, fpp = 0.01)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }
  private val q81Sql =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q96 — top spender per event type as an AGGREGATE argmax: one
  // `max(struct(total, user))` over the per-user totals — partial
  // aggregation map-side, no window, no second sort (the plan a
  // rank-then-filter would cost a full per-group sort for). The
  // struct's field order IS the tie rule (highest total, then highest
  // user id), spelled explicitly in the oracle's ORDER BY. PlanSpec
  // pins the window-free shape.
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val totals = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(round(col("value") * 1000000).cast("long")).as("total_micros"))
    totals.groupBy(col("event_type"))
      .agg(max(struct(col("total_micros"), col("user_id"))).as("__m"),
        count(lit(1)).as("n_users"))
      .select(col("event_type"), col("__m.user_id").as("top_user"),
        col("__m.total_micros").as("top_total_micros"), col("n_users"))
      .orderBy(col("event_type"))
  }
  private val q96Sql =
    """WITH t AS (SELECT event_type, user_id,
      |    CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS total
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, user_id, total,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY total DESC, user_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nu
      |  FROM t)
      |SELECT event_type, user_id AS top_user, total AS top_total_micros,
      |  CAST(nu AS BIGINT) AS n_users
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q226 — STORE AS-OF READ ([[graft.operators.BatchStore.readAsOf]]):
  // the reproducibility read a 100 TB training pipeline needs —
  // "rebuild the corpus exactly as the day-k job saw it". Documents
  // land in two batches (doc_id parity); the as-of-1 rollup must
  // equal the batch-1-only truth while the live read sees both — and
  // the as-of scan LISTS only the `batch<=1` partition dirs (the
  // predicate is on the store's partition column; directory-level
  // pruning is spec-pinned via `selectedPartitions`, and an as-of
  // below the oldest surviving batch after compaction fails loudly
  // instead of silently serving partial history — Round15Spec).
  private def q226(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    StoreGates.withTempStore(s, "graft_q226_asof") { root =>
      graft.operators.BatchStore.append(
        docs.filter(col("doc_id") % 2 === 0), root, batchId = 1L)
      graft.operators.BatchStore.append(
        docs.filter(col("doc_id") % 2 === 1), root, batchId = 2L)
      def rollup(df: DataFrame, asOf: Long) = df
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("as_of", lit(asOf))
      rollup(graft.operators.BatchStore.readAsOf(s, root, 1L), 1L)
        .unionByName(rollup(graft.operators.BatchStore.read(s, root), 2L))
        .orderBy(col("as_of"), col("source"))
        .transform(Checkpoints.pin)
    }
  }
  private val q226Sql =
    """SELECT CAST(1 AS BIGINT) AS as_of, source,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 2 = 0 GROUP BY source
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS as_of, source,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source
      |ORDER BY as_of, source""".stripMargin

  // ---------------------------------------------------------------
  // q229 — STORE SCHEMA EVOLUTION ([[graft.operators.BatchStore.read]]
  // mergeSchema + [[graft.operators.BatchStore.compactEvolved]]): a
  // year of appends grows the schema — batch 1 is the year-1 shape
  // (doc_id, n_chars), batch 2 adds `lang`. The plain read's schema
  // depends on WHICH file wins inference (silent column loss); the
  // merged read unions footers and null-fills pre-evolution rows
  // deterministically, the pre-schema rows roll up under a sentinel,
  // and compactEvolved makes the unified schema physical (strict
  // compact on the drifted store fails loudly instead — Round15Spec)
  // with the compacted serve row-identical in-plan.
  private def q229(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StoreGates.withTempStore(s, "graft_q229_evo") { root =>
      graft.operators.BatchStore.append(
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("n_chars")), root, batchId = 1L)
      graft.operators.BatchStore.append(
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("n_chars"), col("lang")),
        root, batchId = 2L)
      def rollup(df: DataFrame) = df
        .groupBy(coalesce(col("lang"), lit("(pre-schema)")).as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val merged = rollup(
          graft.operators.BatchStore.read(s, root, mergeSchema = true))
        .transform(Checkpoints.pin)
      graft.operators.BatchStore.compactEvolved(s, root, newBatchId = 3L)
      // post-compaction the unified schema is physical — the PLAIN
      // read serves it
      val compacted = rollup(graft.operators.BatchStore.read(s, root))
        .transform(Checkpoints.pin)
      StoreGates.compactionIdentityGate(merged, compacted,
          "evolved compaction changed the served rollup")
        .orderBy(col("lang"))
        .transform(Checkpoints.pin)
    }
  }
  private val q229Sql =
    """SELECT CASE WHEN doc_id % 2 = 1 THEN lang ELSE '(pre-schema)' END AS lang,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q226_store_asof", q226, Some(q226Sql)),
    QueryDef("q229_store_evolution", q229, Some(q229Sql)),
    QueryDef("q78_zorder_buckets", q78, Some(q78Sql)),
    QueryDef("q81_bloom_semi_join", q81, Some(q81Sql)),
    QueryDef("q96_argmax_agg", q96, Some(q96Sql)),
    QueryDef("q55_set_ops", q55, Some(q55Sql)),
    QueryDef("q56_fuzzy_match", q56, Some(q56Sql)),
    QueryDef("q37_rollup", q37, Some(q37Sql)),
    QueryDef("q38_semi_join", q38, Some(q38Sql)),
    QueryDef("q39_percentiles", q39, Some(q39Sql)),
    QueryDef("q40_string_agg", q40, Some(q40Sql)),
    QueryDef("q41_pivot", q41, Some(q41Sql)),
    QueryDef("q42_dq_profile", q42, Some(q42Sql)),
    QueryDef("q43_asof_attribution", q43, Some(q43Sql)),
    QueryDef("q44_rank_suite", q44, Some(q44Sql)),
  )
}
