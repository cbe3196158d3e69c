package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Cleaning
import graft.operators.SurrogateKeys

/** Phase-3 cleaning / enrichment / surrogate keys — re-expression of
  * `/root/reference/python/transform.py`.
  *
  * Every transformation is a codegen'd column expression (no UDFs):
  * name title-casing, the famously lossy gender map (→ all "Unknown"
  * on this data, preserved faithfully), phone digit-strip, coerced
  * date parses, calendar age, coverage percentage, day-difference, and
  * date parts. Surrogate keys mirror `generate_surrogate_keys`
  * (`transform.py:46-56`) with deterministic ordering (SURVEY.md §7.3).
  */
object RcmTransform {

  /** `clean_and_enrich_patients` (`transform.py:18-31`). `asOf`
    * replaces the reference's wall-clock `datetime.now()`. */
  def cleanPatients(patients: DataFrame, asOf: Column): DataFrame = {
    val named = Seq("FirstName", "LastName", "MiddleName").foldLeft(patients) {
      (df, c) => df.withColumn(c, Cleaning.cleanName(col(c)))
    }
    named
      .withColumn("Gender", Cleaning.normalizeGender(col("Gender")))
      // reference: astype(str) + \D-strip leaves '' for nulls
      .withColumn("PhoneNumber", coalesce(Cleaning.phoneDigits(col("PhoneNumber")), lit("")))
      .withColumn("DOB", Cleaning.parseDate(col("DOB")))
      .withColumn("age", Cleaning.age(col("DOB"), asOf))
  }

  /** `clean_and_enrich_claims` (`transform.py:33-44`). Computes
    * `coverage_percentage` even though the fact projection later drops
    * it (X6 — computed-then-dropped, preserved faithfully). */
  def cleanClaims(claims: DataFrame): DataFrame = claims
    .withColumn("ServiceDate", Cleaning.parseDate(col("ServiceDate")))
    .withColumn("ClaimDate", Cleaning.parseDate(col("ClaimDate")))
    .withColumn("InsertDate", Cleaning.parseDate(col("InsertDate")))
    .withColumn("ModifiedDate", Cleaning.parseDate(col("ModifiedDate")))
    .withColumn("coverage_percentage",
      Cleaning.coveragePercentage(col("PaidAmount"), col("ClaimAmount")))
    .withColumn("days_to_payment",
      Cleaning.daysToPayment(col("ModifiedDate"), col("ServiceDate")))
    .withColumn("claim_year", year(col("ServiceDate")))
    .withColumn("claim_month", month(col("ServiceDate")))

  /** `generate_surrogate_keys` (`transform.py:46-56`): sk per
    * dimension-feeding table, attached by broadcast left join. */
  def withSurrogateKeys(tables: Map[String, DataFrame]): Map[String, DataFrame] = {
    val keyedDims = Seq(
      ("patients", Seq("unified_patient_id"), "patient_sk"),
      ("providers", Seq("ProviderID", "source_hospital"), "provider_sk"),
      ("departments", Seq("DeptID", "source_hospital"), "department_sk"))
    keyedDims.foldLeft(tables) { case (acc, (name, naturalKey, skName)) =>
      val df = acc(name)
      val sk = SurrogateKeys.surrogateKeys(df, naturalKey, skName)
      acc + (name -> SurrogateKeys.attach(df, sk, naturalKey))
    }
  }

  def run(raw: RcmExtraction.RawData, asOf: Column): (Map[String, DataFrame], DataFrame) = {
    val cleaned = raw.tables.updatedWith("patients")(_.map(cleanPatients(_, asOf)))
    (withSurrogateKeys(cleaned), cleanClaims(raw.claims))
  }
}
