package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.RcmModeling.StarSchema

/** The reference's 11 BigQuery analysis queries
  * (`/root/reference/Analysis/Big query/` SQL files) as DataFrame DSL over
  * the star schema. Numbering follows SURVEY.md §3.3.
  *
  * Scale notes: every fact⋈dim join broadcasts the dimension; every
  * aggregation partial-aggregates map-side; top-k plans
  * TakeOrderedAndProject (no global sort). These run unchanged over a
  * 100 TB fact table — the dims stay broadcast-sized.
  */
object RcmAnalytics {

  /** Q1 — total revenue / collected / overall collection rate
    * (`reveunue_metrics_bigQueries.sql:1-8`). */
  def q1TotalRevenue(star: StarSchema): DataFrame =
    star.facts("fact_claims").agg(
      sum("ClaimAmount").as("TotalBilledAmount"),
      sum("PaidAmount").as("TotalCollectedAmount"),
      (sum("PaidAmount") / sum("ClaimAmount") * 100).as("OverallCollectionRatePercent"))

  /** Q2 — revenue by hospital (`reveunue_metrics_bigQueries.sql:10-24`). */
  def q2RevenueByHospital(star: StarSchema): DataFrame =
    star.facts("fact_claims")
      .join(broadcast(star.dimensions("dim_patients")), Seq("patient_sk"))
      .groupBy(col("source_hospital"))
      .agg(
        sum("ClaimAmount").as("TotalBilledAmount"),
        sum("PaidAmount").as("TotalCollectedAmount"),
        avg("days_to_payment").as("AverageDaysToPayment"))
      .orderBy(desc("TotalBilledAmount"))

  /** Q3 — monthly trends (`reveunue_metrics_bigQueries.sql:26-41`). */
  def q3MonthlyTrends(star: StarSchema): DataFrame =
    star.facts("fact_claims")
      .join(broadcast(star.dimensions("dim_date")), Seq("date_sk"))
      .groupBy(col("year"), col("month"))
      .agg(
        sum("ClaimAmount").as("MonthlyBilledAmount"),
        sum("PaidAmount").as("MonthlyCollectedAmount"))
      .orderBy(col("year"), col("month"))

  /** Q4 — approval/denial rates by payor (`claim_performance.sql`). */
  def q4PayorPerformance(star: StarSchema): DataFrame = {
    val paid = sum(when(col("ClaimStatus") === "Paid", 1).otherwise(0))
    val denied = sum(when(col("ClaimStatus") === "Denied", 1).otherwise(0))
    star.facts("fact_claims")
      .groupBy(col("PayorType"))
      .agg(
        count(lit(1)).as("TotalClaims"),
        paid.as("ApprovedClaims"),
        denied.as("DeniedClaims"),
        (paid / count(lit(1)) * 100).as("ApprovalRatePercent"),
        (denied / count(lit(1)) * 100).as("DenialRatePercent"),
        avg("days_to_payment").as("AverageProcessingTimeInDays"))
      .orderBy(desc("TotalClaims"))
  }

  /** Q5 — demographics by hospital (`pateint_metrics.sql:1-15`);
    * current rows only. */
  def q5Demographics(star: StarSchema): DataFrame =
    star.dimensions("dim_patients").filter(col("is_current"))
      .groupBy(col("source_hospital"), col("Gender"))
      .agg(
        countDistinct(col("patient_sk")).as("NumberOfPatients"),
        avg("age").as("AveragePatientAge"))
      .orderBy(col("source_hospital"), desc("NumberOfPatients"))

  /** Q6 — insurance mix (`pateint_metrics.sql:17-27`). */
  def q6InsuranceMix(star: StarSchema): DataFrame =
    star.facts("fact_claims")
      .groupBy(col("PayorType"))
      .agg(countDistinct(col("patient_sk")).as("NumberOfUniquePatients"))
      .orderBy(desc("NumberOfUniquePatients"))

  /** Q7 — average days in A/R (`operartional_efficiency.sql:1-8`). */
  def q7AvgDaysInAR(star: StarSchema): DataFrame =
    star.facts("fact_claims")
      .filter(col("ClaimStatus") === "Paid")
      .agg(avg("days_to_payment").as("AverageDaysInAR"))

  /** Q8 — total write-offs (`operartional_efficiency.sql:10-16`). */
  def q8TotalWriteOffs(star: StarSchema): DataFrame =
    star.facts("fact_claims")
      .filter(col("ClaimStatus") === "Denied" && col("PaidAmount") === 0)
      .agg(sum("ClaimAmount").as("TotalWriteOffAmount"))

  /** Q9 — top-20 patient lifetime value (`patient lifetime value.sql`). */
  def q9PatientLifetimeValue(star: StarSchema): DataFrame =
    star.facts("fact_claims")
      .join(broadcast(star.dimensions("dim_patients")), Seq("patient_sk"))
      .groupBy(col("patient_sk"), col("FirstName"), col("LastName"), col("source_hospital"))
      .agg(
        sum("ClaimAmount").as("TotalBilledToPatient"),
        countDistinct(col("ClaimID")).as("NumberOfClaims"))
      .orderBy(desc("TotalBilledToPatient"))
      .limit(20)

  /** Q10 — procedure profitability (`procedure_profitability.sql`). */
  def q10ProcedureProfitability(star: StarSchema): DataFrame =
    star.facts("fact_transactions")
      .join(broadcast(star.dimensions("dim_procedures")), Seq("procedure_sk"))
      .groupBy(col("ProcedureDescription"), col("ProcedureCode"))
      .agg(
        count(col("TransactionID")).as("NumberOfTimesPerformed"),
        sum("Amount").as("TotalRevenueGenerated"),
        avg("Amount").as("AverageRevenuePerProcedure"),
        sum("PaidAmount").as("TotalCollected"),
        (sum("PaidAmount") / sum("Amount") * 100).as("CollectionRatePercent"))
      .orderBy(desc("TotalRevenueGenerated"))

  /** Q11 — seasonal patient volume (`Seasonal trends`). */
  def q11SeasonalVolume(star: StarSchema): DataFrame =
    star.facts("fact_claims")
      .join(broadcast(star.dimensions("dim_date")), Seq("date_sk"))
      .groupBy(col("year"), col("quarter"), col("month"))
      .agg(countDistinct(col("patient_sk")).as("UniquePatients"),
        count(lit(1)).as("TotalClaims"))
      .orderBy(col("year"), col("quarter"), col("month"))

  val all: Map[String, StarSchema => DataFrame] = Map(
    "q1_total_revenue" -> q1TotalRevenue,
    "q2_revenue_by_hospital" -> q2RevenueByHospital,
    "q3_monthly_trends" -> q3MonthlyTrends,
    "q4_payor_performance" -> q4PayorPerformance,
    "q5_demographics" -> q5Demographics,
    "q6_insurance_mix" -> q6InsuranceMix,
    "q7_avg_days_in_ar" -> q7AvgDaysInAR,
    "q8_total_writeoffs" -> q8TotalWriteOffs,
    "q9_patient_lifetime_value" -> q9PatientLifetimeValue,
    "q10_procedure_profitability" -> q10ProcedureProfitability,
    "q11_seasonal_volume" -> q11SeasonalVolume)
}
