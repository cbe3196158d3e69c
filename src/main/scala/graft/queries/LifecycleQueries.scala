package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ScdType2, SurrogateKeys}

/** Surrogate-key generation (A1/J1) and SCD Type 2 (§2.10) exposed as
  * driver-checkable queries over the testdata `customer` table. The
  * SCD oracle reproduces the operator's full semantics in ANSI SQL
  * (full-outer diff, four-way union, deterministic re-key) so the
  * DuckDB hash-compare exercises every branch: changed / brand-new /
  * disappeared-retained / unchanged.
  */
object LifecycleQueries {

  // ---------------------------------------------------------------
  // q18 — surrogate-key generate + attach (A1 row_number re-key, J1
  // broadcast attach).
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val sk = SurrogateKeys.surrogateKeys(p, Seq("p_brand"), "brand_sk")
    SurrogateKeys.attach(p, sk, Seq("p_brand"))
      .groupBy(col("brand_sk"), col("p_brand"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("brand_sk"))
  }
  // LEFT JOIN mirrors SurrogateKeys.attach exactly: a null natural key
  // (never in this testdata, but possible in general) keeps its fact
  // row with a null brand_sk in BOTH engines, so the gate can't drift
  // on null-key data.
  private val q18Sql =
    """WITH sk AS (
      |  SELECT p_brand, row_number() OVER (ORDER BY p_brand) - 1 AS brand_sk
      |  FROM (SELECT DISTINCT p_brand FROM part WHERE p_brand IS NOT NULL))
      |SELECT sk.brand_sk, p.p_brand, COUNT(*) AS n_parts
      |FROM part p LEFT JOIN sk ON p.p_brand = sk.p_brand
      |GROUP BY sk.brand_sk, p.p_brand ORDER BY sk.brand_sk""".stripMargin

  // ---------------------------------------------------------------
  // SCD2 fixtures: customer as the dimension snapshot.
  private val scdAttrs = Seq("c_name", "c_mktsegment", "c_acctbal")
  private val scdTracked = Seq("c_mktsegment", "c_acctbal")

  private def snapshot(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))

  /** Deterministic second snapshot: segment change for custkey%7==0,
    * drop custkey%13==5 (disappeared → retained), add brand-new ids
    * (+1,000,000) for custkey%11==3. */
  private def mutatedSnapshot(s: SparkSession, dir: String): DataFrame = {
    val snap = snapshot(s, dir)
    val mutated = snap.filter(col("c_custkey") % 13 =!= 5)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("-V2")))
          .otherwise(col("c_mktsegment")))
    val brandNew = snap.filter(col("c_custkey") % 11 === 3)
      .withColumn("c_custkey", col("c_custkey") + 1000000L)
      .withColumn("c_acctbal", col("c_acctbal") + 1)
    mutated.unionByName(brandNew)
  }

  // q19 — SCD2 first run (`scd_implementation.py:21-30`).
  private def q19(s: SparkSession, dir: String): DataFrame =
    ScdType2(snapshot(s, dir), None, "c_custkey", scdAttrs, scdTracked,
        "customer_sk", LocalDate.parse("2024-06-01"))
      .orderBy(col("customer_sk"))
  private val q19Sql =
    """SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS customer_sk,
      | c_custkey, c_name, c_mktsegment, c_acctbal,
      | CAST(1 AS BIGINT) AS version, DATE '2024-06-01' AS effective_date,
      | CAST(NULL AS DATE) AS expiry_date, TRUE AS is_current
      |FROM customer ORDER BY 1""".stripMargin

  // q20 — SCD2 incremental run (`scd_implementation.py:33-100`).
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val existing = ScdType2(snapshot(s, dir), None, "c_custkey", scdAttrs,
      scdTracked, "customer_sk", LocalDate.parse("2024-06-01"))
    ScdType2(mutatedSnapshot(s, dir), Some(existing), "c_custkey", scdAttrs,
        scdTracked, "customer_sk", LocalDate.parse("2024-07-01"))
      .orderBy(col("customer_sk"))
  }
  /** The q20 two-run SCD2 dimension as a DuckDB CTE chain ending at
    * `assembled` — shared by q20 (rekey + full dump) and q206 (the
    * point-in-time fact lookup). */
  private val scd2AssembledCte =
    """WITH snap AS (
      |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
      |first_run AS (
      |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
      |         CAST(1 AS BIGINT) AS version, DATE '2024-06-01' AS effective_date,
      |         CAST(NULL AS DATE) AS expiry_date, TRUE AS is_current
      |  FROM snap),
      |new_snap AS (
      |  SELECT c_custkey, c_name,
      |         CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '-V2'
      |              ELSE c_mktsegment END AS c_mktsegment,
      |         c_acctbal
      |  FROM snap WHERE c_custkey % 13 <> 5
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_mktsegment, c_acctbal + 1
      |  FROM snap WHERE c_custkey % 11 = 3),
      |changed AS (
      |  SELECT e.c_custkey, e.c_name, e.c_mktsegment, e.c_acctbal,
      |         e.version, e.effective_date,
      |         n.c_name AS n_name, n.c_mktsegment AS n_seg, n.c_acctbal AS n_bal
      |  FROM first_run e JOIN new_snap n USING (c_custkey)
      |  WHERE e.is_current
      |    AND (COALESCE(e.c_mktsegment, '') <> COALESCE(n.c_mktsegment, '')
      |         OR e.c_acctbal IS DISTINCT FROM n.c_acctbal)),
      |assembled AS (
      |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal, version,
      |         effective_date, expiry_date, is_current
      |  FROM first_run WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal, version,
      |         effective_date, DATE '2024-06-30', FALSE
      |  FROM changed
      |  UNION ALL
      |  SELECT c_custkey, n_name, n_seg, n_bal, version + 1,
      |         DATE '2024-07-01', CAST(NULL AS DATE), TRUE
      |  FROM changed
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal, CAST(1 AS BIGINT),
      |         DATE '2024-07-01', CAST(NULL AS DATE), TRUE
      |  FROM new_snap WHERE c_custkey NOT IN (SELECT c_custkey FROM first_run))""".stripMargin
  // ---------------------------------------------------------------
  // q206 — POINT-IN-TIME SCD2 LOOKUP ([[graft.operators.ScdType2
  // .pointInTimeLookup]]): the query the versioned dimension exists
  // FOR — each fact joined to the customer VERSION valid at the
  // fact's own date, not the current one. Facts are orders with a
  // deterministic probe date spanning both runs
  // (2024-06-01 + o_orderkey % 60 days, so ~half the facts land in
  // each validity regime); the v2 '-V2' segments accrue revenue ONLY
  // from facts dated after the 2024-07-01 change, which is exactly
  // what the (version, segment) totals pin. Equi-join on the natural
  // key + the validity-window residual — never a range join over a
  // product; validity windows partition time per key, so every fact
  // matches at most one version. Oracle: the q20 assembled-dimension
  // CTE (shared) joined to the same probe-dated facts.
  private def q206(s: SparkSession, dir: String): DataFrame = {
    val existing = ScdType2(snapshot(s, dir), None, "c_custkey", scdAttrs,
      scdTracked, "customer_sk", LocalDate.parse("2024-06-01"))
    val dim = ScdType2(mutatedSnapshot(s, dir), Some(existing), "c_custkey",
      scdAttrs, scdTracked, "customer_sk", LocalDate.parse("2024-07-01"))
    val facts = Tables.orders(s, dir).select(
      col("o_custkey").as("c_custkey"),
      col("o_totalprice"),
      date_add(to_date(lit("2024-06-01")),
        (col("o_orderkey") % 60).cast("int")).as("fdate"))
    ScdType2.pointInTimeLookup(facts, dim, "c_custkey", "fdate")
      .groupBy(col("version"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_facts"),
        sum(col("o_totalprice").cast("decimal(28,9)")).cast("double")
          .as("revenue"))
      .orderBy(col("version"), col("c_mktsegment"))
  }
  private val q206Sql = scd2AssembledCte + ",\n" +
    """f AS (SELECT o_custkey AS c_custkey, o_totalprice,
      |    DATE '2024-06-01' + CAST(o_orderkey % 60 AS INTEGER) AS fdate
      |  FROM orders)
      |SELECT d.version, d.c_mktsegment, COUNT(*) AS n_facts,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,9))) AS DOUBLE) AS revenue
      |FROM f JOIN assembled d ON f.c_custkey = d.c_custkey
      |WHERE f.fdate >= d.effective_date
      |  AND (d.expiry_date IS NULL OR f.fdate <= d.expiry_date)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val q20Sql = scd2AssembledCte + "\n" +
    """SELECT row_number() OVER (ORDER BY c_custkey, version) - 1 AS customer_sk,
      |       c_custkey, c_name, c_mktsegment, c_acctbal, version,
      |       effective_date, expiry_date, is_current
      |FROM assembled ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q109 — SCD2 with `changedOnly = true` over a CDC-shaped batch:
  // the incoming snapshot carries ONLY the changed and brand-new rows
  // (what a change-data-capture feed delivers), and the operator
  // semi-join-prunes the diff join to batch-sized inputs. The output
  // must equal q20's whole-snapshot rerun EXACTLY — disappeared-from-
  // batch ids are retained unchanged either way — so the oracle is
  // q20's verbatim. This is the sub-linear path: the diff join costs
  // O(batch), not O(dimension).
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val existing = ScdType2(snapshot(s, dir), None, "c_custkey", scdAttrs,
      scdTracked, "customer_sk", LocalDate.parse("2024-06-01"))
    val snap = snapshot(s, dir)
    val changed = snap
      .filter(col("c_custkey") % 13 =!= 5 && col("c_custkey") % 7 === 0)
      .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("-V2")))
    val brandNew = snap.filter(col("c_custkey") % 11 === 3)
      .withColumn("c_custkey", col("c_custkey") + 1000000L)
      .withColumn("c_acctbal", col("c_acctbal") + 1)
    ScdType2(changed.unionByName(brandNew), Some(existing), "c_custkey",
        scdAttrs, scdTracked, "customer_sk", LocalDate.parse("2024-07-01"),
        changedOnly = true)
      .orderBy(col("customer_sk"))
  }

  /** q79/q86's scenario: "yesterday" = orders through 1996, "today" =
    * orders through 1997 with a hash-selected 1/37 of keys deleted and
    * 1/11 given status "X". */
  private def orderSnapshots(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import graft.operators.TextFunctions.hash60
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        year(col("o_orderdate")).as("y"),
        hash60(col("o_orderkey").cast("string")).as("h"))
    val prev = o.filter(col("y") <= 1996)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val next = o.filter(col("y") <= 1997 && col("h") % 37 =!= 0)
      .select(col("o_orderkey"),
        when(col("h") % 11 === 3, lit("X")).otherwise(col("o_orderstatus"))
          .as("o_orderstatus"),
        col("o_totalprice"))
    (prev, next)
  }

  // ---------------------------------------------------------------
  // q79 — snapshot diff (the CDC primitive SCD2 consumes, standalone):
  // "yesterday" = orders through 1996, "today" = orders through 1997
  // with a deterministic hash-selected 1/37 of keys deleted and 1/11
  // mutated. One full-outer key join classifies every key as added /
  // removed / changed / unchanged; the gate compares per-class counts
  // and key checksums (see [[graft.operators.SnapshotDiff]]).
  private def q79(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SnapshotDiff
    val (prev, next) = orderSnapshots(s, dir)
    SnapshotDiff.diff(prev, next, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_keys"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("change_type"))
  }
  /** q79/q86's oracle opening: orders with their year `y` and
    * 60-bit key hash `h`. Unstripped. */
  private lazy val hashedOrdersCte = {
    val h = "CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)"
    s"""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
       |    EXTRACT(YEAR FROM o_orderdate) AS y, $h AS h FROM orders)"""
  }
  private lazy val q79Sql =
    s"""$hashedOrdersCte,
       |prev AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM o WHERE y <= 1996),
       |nxt AS (SELECT o_orderkey,
       |    CASE WHEN h % 11 = 3 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       |    o_totalprice
       |  FROM o WHERE y <= 1997 AND h % 37 <> 0),
       |j AS (SELECT COALESCE(p.o_orderkey, n.o_orderkey) AS k,
       |    CASE WHEN p.o_orderkey IS NULL THEN 'added'
       |         WHEN n.o_orderkey IS NULL THEN 'removed'
       |         WHEN p.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       |           OR p.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
       |         ELSE 'unchanged' END AS change_type
       |  FROM prev p FULL OUTER JOIN nxt n ON p.o_orderkey = n.o_orderkey)
       |SELECT change_type, COUNT(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS key_sum
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q86 — MERGE round-trip on q79's exact scenario: extract the
  // change-proportional feed (changeSet — only moved keys carry
  // payload), apply it to the prev snapshot (anti-join the touched
  // keys, union the upserts), and the result must BE the next
  // snapshot, row for row — which is precisely what the oracle
  // recomputes directly. The lakehouse incremental-maintenance
  // primitive: ship 0.1% of keys, not the table.
  private def q86(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SnapshotDiff
    val (prev, next) = orderSnapshots(s, dir)
    val keys = Seq("o_orderkey")
    val tracked = Seq("o_orderstatus", "o_totalprice")
    val feed = SnapshotDiff.changeSet(prev, next, keys, tracked)
    SnapshotDiff.applyChanges(prev, feed, keys, tracked)
      .orderBy(col("o_orderkey"))
  }
  private lazy val q86Sql =
    s"""$hashedOrdersCte
       |SELECT o_orderkey,
       |  CASE WHEN h % 11 = 3 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       |  o_totalprice
       |FROM o WHERE y <= 1997 AND h % 37 <> 0
       |ORDER BY o_orderkey""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q79_snapshot_diff", q79, Some(q79Sql)),
    QueryDef("q86_apply_changes", q86, Some(q86Sql)),
    QueryDef("q18_surrogate_keys", q18, Some(q18Sql)),
    QueryDef("q206_scd2_point_in_time", q206, Some(q206Sql)),
    QueryDef("q19_scd2_first_run", q19, Some(q19Sql)),
    QueryDef("q20_scd2_incremental", q20, Some(q20Sql)),
    QueryDef("q109_scd2_changed_only", q109, Some(q20Sql)),
  )
}
