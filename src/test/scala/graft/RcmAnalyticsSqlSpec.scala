package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{RcmAnalytics, RcmAnalyticsSql}
import graft.etl.RcmPipeline

/** Pins the `spark.sql` twin surface ([[graft.analytics.RcmAnalyticsSql]])
  * to the DataFrame DSL ([[graft.analytics.RcmAnalytics]]): for each of
  * the reference's 11 analysis queries the SQL string and the DSL
  * function, over the [[RcmFixtures]] day-2 star, must produce
  * identical schemas and identical row multisets — same values
  * bit-for-bit, since the BROADCAST hints make the physical plans (and
  * hence double-aggregation order) agree.
  */
class RcmAnalyticsSqlSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(8)

  /** The day-2 star over [[RcmFixtures]]: day 1 is built and written,
    * then day 2 runs SCD2 against day 1's written `dim_patients`, as
    * the nightly job (and [[RcmNightlySpec]]) does. */
  private lazy val star = {
    val root = java.nio.file.Files.createTempDirectory("rcm_analytics_sql").toString
    RcmFixtures.write(root, 1)
    RcmPipeline.write(RcmPipeline.runRaw(RcmFixtures.extract(spark, root, 1),
      LocalDate.parse("2024-12-01")).star, s"$root/star")
    RcmFixtures.write(root, 2)
    val existing = spark.read.parquet(s"$root/star/dim_patients.parquet").localCheckpoint()
    RcmPipeline.runRaw(RcmFixtures.extract(spark, root, 2),
      LocalDate.parse("2024-12-02"), Some(existing)).star
  }

  private def canon(df: DataFrame): (Seq[String], Seq[String]) = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.sql}").toSeq
    val rows = df.collect().map(_.toSeq.map {
      case null => "\u0000"
      case d: Double => java.lang.Double.toString(d)
      case v => v.toString
    }.mkString("\u0001")).sorted.toSeq
    (schema, rows)
  }

  for (name <- RcmAnalytics.all.keys.toSeq.sorted) {
    test(s"$name: SQL twin is hash-identical to the DSL") {
      val dsl = canon(RcmAnalytics.all(name)(star))
      val sql = canon(RcmAnalyticsSql.run(spark, star, name))
      assert(sql._1 == dsl._1, s"schema mismatch for $name")
      assert(sql._2 == dsl._2, s"row mismatch for $name")
      assert(dsl._2.nonEmpty, s"$name returned no rows")
    }
  }
}
