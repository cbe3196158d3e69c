package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape checks for every registered query at sf0.001. The
  * value-level gate is the DuckDB oracle (tools/check.py locally, the
  * driver's t2 in CI); here we pin that each query runs, has its
  * declared columns, and returns sane cardinalities. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  private val sf = "/root/testdata/sf0.001"

  test("every query has an oracle or a documented reason") {
    // The allowlist documents WHY a query is exempt from the DuckDB
    // value gate. Kept empty on purpose: even the HLL sketch query
    // (q57) is gated by folding its engine-specific estimate into an
    // oracle-checkable bound. Add entries only with a reason string.
    val allowedNoOracle: Map[String, String] = Map.empty
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    val undocumented = noOracle.filterNot(allowedNoOracle.contains)
    assert(undocumented.isEmpty, s"queries without oracle or documented reason: $undocumented")
    val stale = allowedNoOracle.keySet -- SparkEntry.registry.map(_.name).toSet
    assert(stale.isEmpty, s"allowlist names unknown queries: $stale")
  }

  test("registry names are unique — a duplicate would silently shadow a query") {
    // SparkEntry.queries/oracleSql are Maps built from the registry;
    // two QueryDefs sharing a name would drop one without any error
    // and the driver's gate would never see it
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for (q <- SparkEntry.registry) {
    test(s"${q.name} runs at sf0.001") {
      // pins are compared as id sets, never counts, and no GC is
      // forced: the ContextCleaner would hide a leak
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = q.run(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      operators.Checkpoints.releasePinned(df)
      val leaked = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(leaked.isEmpty, s"${q.name} left pins behind: " +
        leaked.values.map(_.toString).mkString(", "))
    }
  }

  test("q01 aggregates are exact-decimal doubles") {
    val r = SparkEntry.queries("q01_global_agg")(spark, sf).collect().head
    assert(r.getAs[Double]("total_billed") > 0)
    assert(r.getAs[Double]("collection_rate_pct") > 0 &&
      r.getAs[Double]("collection_rate_pct") < 100)
  }

  test("q09 returns exactly top-20 deterministically") {
    val rows = SparkEntry.queries("q09_top20_ltv")(spark, sf).collect()
    assert(rows.length == 20)
    val ltv = rows.map(_.getAs[Double]("lifetime_value"))
    assert(ltv.zip(ltv.tail).forall { case (a, b) => a >= b })
  }

  test("q20 SCD2 incremental covers all four row classes") {
    val rows = SparkEntry.queries("q20_scd2_incremental")(spark, sf).collect()
    val byVersion = rows.groupBy(_.getAs[Long]("version")).view.mapValues(_.length).toMap
    assert(byVersion.getOrElse(2L, 0) > 0, "expected changed rows at v2")
    assert(rows.count(!_.getAs[Boolean]("is_current")) == byVersion(2L),
      "each v2 pairs with one expired v1")
    // exactly one current row per business id
    val perId = rows.filter(_.getAs[Boolean]("is_current"))
      .groupBy(_.getAs[Long]("c_custkey")).view.mapValues(_.length)
    assert(perId.values.forall(_ == 1))
  }
}
