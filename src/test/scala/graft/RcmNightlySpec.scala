package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.etl.{RcmModeling, RcmPipeline}

/** The nightly job end to end over [[RcmFixtures]] (no reference data
  * needed): day 1 builds and writes the star, day 2 runs SCD2 against
  * day 1's written `dim_patients` and overwrites the star in place, as
  * `RcmRun` does. Every expectation comes from the fixture's own
  * definitions, never from the code under test. */
class RcmNightlySpec extends AnyFunSuite with TimeLimits {
  lazy val spark = Sessions.local(4)
  implicit val signaler: Signaler = ThreadSignaler

  private lazy val root = java.nio.file.Files.createTempDirectory("rcm_nightly").toString
  private lazy val out = s"$root/star"
  private val asOf1 = LocalDate.parse("2024-12-01")
  private val asOf2 = LocalDate.parse("2024-12-02")

  private def read(t: String): DataFrame = spark.read.parquet(s"$out/$t.parquet")

  private lazy val day1 = {
    RcmFixtures.write(root, 1)
    val r = RcmPipeline.runRaw(RcmFixtures.extract(spark, root, 1), asOf1)
    (r, RcmPipeline.write(r.star, out))
  }

  private lazy val day2 = {
    day1
    RcmFixtures.write(root, 2)
    // pinned before the night overwrites the path it was read from
    val existing = read("dim_patients").localCheckpoint()
    val r = RcmPipeline.runRaw(RcmFixtures.extract(spark, root, 2), asOf2, Some(existing))
    (r, RcmPipeline.write(r.star, out))
  }

  private def assertLoads(loads: Seq[RcmPipeline.TableLoad], day: Int): Unit = {
    val want = RcmFixtures.expectedRows(day)
    assert(loads.map(_.name).toSet == want.keySet)
    loads.foreach { l =>
      assert(l.reconciled, s"$l")
      assert(l.written == want(l.name), s"day $day: $l, fixture has ${want(l.name)}")
      assert(read(l.name).count() == l.written, s"day $day: ${l.name} on disk")
    }
  }

  test("day 1 night: every table is written once and reconciles with the sink") {
    assertLoads(day1._2, 1)
  }

  test("validation counts the planted orphan and the zero amount in one pass") {
    for ((r, _) <- Seq(day1, day2)) {
      assert(r.validation.orphanedPatients == RcmFixtures.orphanTransactions)
      assert(r.validation.nonPositiveAmounts == RcmFixtures.nonPositiveAmounts)
    }
  }

  test("validation: a null patient_sk is an orphan, a known key is not") {
    import spark.implicits._
    val dim = Seq(1L, 2L, 2L).toDF("patient_sk")
    val facts = Seq[(Option[Long], Double)]((Some(1L), 5.0), (Some(2L), -1.0),
      (Some(3L), 0.0), (None, 7.0)).toDF("patient_sk", "Amount")
    val v = RcmModeling.validate(RcmModeling.StarSchema(
      Map("dim_patients" -> dim), Map("fact_transactions" -> facts)))
    assert(v == RcmModeling.Validation(orphanedPatients = 2L, nonPositiveAmounts = 2L))
  }

  test("day 2 night: SCD2 keeps one current row per id and expires the tracked change") {
    assertLoads(day2._2, 2)
    val Row(ids: Long, current: Long, expired: Long, multi: Long) = read("dim_patients")
      .groupBy(col("unified_patient_id"))
      .agg(count(when(col("is_current"), 1)).as("cur"),
        count(when(!col("is_current"), 1)).as("old"))
      .agg(count(lit(1)), sum(col("cur")), sum(col("old")),
        count(when(col("cur") =!= 1L, 1)))
      .head()
    assert(ids == 2L * RcmFixtures.patientsPerHospital + RcmFixtures.newIds)
    assert(current == ids && multi == 0L, "exactly one current row per id")
    assert(expired == RcmFixtures.trackedChanges)
    val versions = read("dim_patients").filter(col("is_current"))
      .select("unified_patient_id", "version").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(versions(RcmFixtures.trackedChangeId) == 2L)
    assert(versions(RcmFixtures.untrackedChangeId) == 1L, "untracked change must not version")
    assert(versions(RcmFixtures.newId) == 1L)
  }

  test("procedure_sk and date_sk are dense 0..n-1 in ProcedureCode / full_date order") {
    day2
    def keyed(t: String, natural: String, sk: String) = read(t)
      .select(col(sk), col(natural)).orderBy(col(sk)).collect()
      .map(r => r.getLong(0) -> r.get(1)).toSeq
    val procedures = keyed("dim_procedures", "ProcedureCode", "procedure_sk")
    assert(procedures == RcmFixtures.dimProcedureCodes.zipWithIndex.map {
      case (code, i) => i.toLong -> code })
    val dates = keyed("dim_date", "full_date", "date_sk")
      .map { case (sk, d) => sk -> d.asInstanceOf[java.sql.Date].toLocalDate }
    assert(dates == RcmFixtures.dimDates.zipWithIndex.map { case (d, i) => i.toLong -> d })
  }

  test("claims resolve patient_sk through (TransactionID, source_hospital)") {
    day2
    val claims = read("fact_claims")
    assert(claims.count() == 2L * RcmFixtures.transactionsPerHospital,
      "colliding TransactionIDs must not fan claims out")
    assert(claims.filter(col("patient_sk").isNull).count() == RcmFixtures.orphanTransactions)
  }

  test("a night leaves only the pins its star reaches, and none once the star is released") {
    val dir = java.nio.file.Files.createTempDirectory("rcm_night_pins").toString
    RcmFixtures.write(dir, 1)
    RcmFixtures.write(dir, 2)
    // id sets, never counts, and no forced GC: the ContextCleaner would hide a leak
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def night(day: Int, asOf: LocalDate, existing: Option[DataFrame]): Unit = {
      val r = RcmPipeline.runRaw(RcmFixtures.extract(spark, dir, day), asOf, existing)
      RcmPipeline.write(r.star, s"$dir/star$day")
      (r.star.dimensions.values ++ r.star.facts.values)
        .foreach(operators.Checkpoints.releasePinned)
    }
    // no auto-broadcast: the re-keys take the dimension-scale path,
    // whose own pins (sort, diff join) the result does not reach
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      night(1, asOf1, None)
      night(2, asOf2, Some(spark.read.parquet(s"$dir/star1/dim_patients.parquet")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, "pins the night left behind: " +
      left.values.map(_.toString).mkString(", "))
  }

  /** Spark jobs of one night's `runRaw` + `write` on the fixtures,
    * auto-broadcast on (the benchmark's shape). A change that adds or
    * removes a job moves these; update them with the reason in the
    * change's notes. */
  private val nightJobs = Map(1 -> 31, 2 -> 32)

  test("a day-1 and a day-2 night run exactly their budgeted Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("rcm_night_jobs").toString
    RcmFixtures.write(dir, 1)
    RcmFixtures.write(dir, 2)
    def night(day: Int, asOf: LocalDate, existing: Option[DataFrame]): Metrics.JobCount = {
      val raw = RcmFixtures.extract(spark, dir, day)
      val (r, count) = Metrics.countJobs(spark) {
        val r = RcmPipeline.runRaw(raw, asOf, existing)
        RcmPipeline.write(r.star, s"$dir/star$day")
        r
      }
      (r.star.dimensions.values ++ r.star.facts.values)
        .foreach(operators.Checkpoints.releasePinned)
      count
    }
    val counts = Map(
      1 -> night(1, asOf1, None),
      2 -> night(2, asOf2, Some(spark.read.parquet(s"$dir/star1/dim_patients.parquet"))))
    val off = counts.toSeq.sortBy(_._1).collect { case (day, c) if c.jobs != nightJobs(day) =>
      f"day $day: ${c.jobs} jobs, budget ${nightJobs(day)} (${c.jobs - nightJobs(day)}%+d); " +
        c.sites.mkString("call sites: ", " | ", "")
    }
    assert(off.isEmpty, off.mkString("\n"))
  }

  test("an empty table writes, observes 0 rows and reconciles without hanging") {
    val (r, _) = day1
    val empty = r.star.dimensions("dim_departments").filter(lit(false))
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      r.star.dimensions("dim_providers").schema)
    val star = r.star.copy(dimensions = r.star.dimensions +
      ("dim_departments" -> empty) + ("dim_providers" -> noPartitions))
    val loads = failAfter(Span(120, Seconds)) {
      RcmPipeline.write(star, s"$root/empty")
    }.map(l => l.name -> l).toMap
    for (t <- Seq("dim_departments", "dim_providers")) {
      assert(loads(t) == RcmPipeline.TableLoad(t, 0L, 0L))
      assert(spark.read.parquet(s"$root/empty/$t.parquet").count() == 0L)
    }
    assert(loads("fact_claims").written == 2L * RcmFixtures.transactionsPerHospital)
  }

  test("a sink that loses a committed part file fails post-load reconciliation") {
    val (r, _) = day1
    spark.sparkContext.hadoopConfiguration.set("fs.lossy.impl",
      classOf[LossyFileSystem].getName)
    LossyFileSystem.dropOnePartOf("fact_claims.parquet")
    try {
      val ex = intercept[IllegalArgumentException] {
        RcmPipeline.write(r.star, s"lossy:$root/lossy")
      }
      assert(LossyFileSystem.dropped, "the armed loss never fired")
      assert(ex.getMessage.contains("post-load reconciliation failed"), ex.getMessage)
      assert(ex.getMessage.contains("TableLoad(fact_claims,"), ex.getMessage)
      assert(!ex.getMessage.contains("TableLoad(fact_transactions,"), ex.getMessage)
    } finally LossyFileSystem.disarm()
  }
}
