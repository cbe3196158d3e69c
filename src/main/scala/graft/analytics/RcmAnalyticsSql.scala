package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.RcmModeling.StarSchema

/** The reference's 11 BigQuery analysis queries
  * (`/root/reference/Analysis/Big query/`, SURVEY.md §3.3) as
  * `spark.sql` strings over temp views of the star schema — the SQL
  * twin of [[RcmAnalytics]]. A user of the reference reaches for SQL
  * first; this is that entry point, full Catalyst pipeline
  * (parse → analyze → optimize → codegen).
  *
  * Each string is semantically identical to its DSL twin and pinned so
  * by RcmAnalyticsSqlSpec (hash-identical results). BROADCAST hints
  * mirror the DSL's explicit `broadcast(dim)` calls, so even the
  * physical plans agree — identical double-aggregation order, hence
  * bit-identical sums.
  */
object RcmAnalyticsSql {

  /** Register every star-schema table as a temp view named after its
    * star name (`dim_patients`, `fact_claims`, ...). */
  def register(star: StarSchema): Unit =
    (star.dimensions ++ star.facts).foreach { case (name, df) =>
      df.createOrReplaceTempView(name)
    }

  val sql: Map[String, String] = Map(
    "q1_total_revenue" ->
      """SELECT SUM(ClaimAmount) AS TotalBilledAmount,
        |       SUM(PaidAmount) AS TotalCollectedAmount,
        |       SUM(PaidAmount) / SUM(ClaimAmount) * 100 AS OverallCollectionRatePercent
        |FROM fact_claims""".stripMargin,

    "q2_revenue_by_hospital" ->
      """SELECT /*+ BROADCAST(p) */ p.source_hospital,
        |       SUM(fc.ClaimAmount) AS TotalBilledAmount,
        |       SUM(fc.PaidAmount) AS TotalCollectedAmount,
        |       AVG(fc.days_to_payment) AS AverageDaysToPayment
        |FROM fact_claims fc JOIN dim_patients p USING (patient_sk)
        |GROUP BY p.source_hospital
        |ORDER BY TotalBilledAmount DESC""".stripMargin,

    "q3_monthly_trends" ->
      """SELECT /*+ BROADCAST(d) */ d.year, d.month,
        |       SUM(fc.ClaimAmount) AS MonthlyBilledAmount,
        |       SUM(fc.PaidAmount) AS MonthlyCollectedAmount
        |FROM fact_claims fc JOIN dim_date d USING (date_sk)
        |GROUP BY d.year, d.month
        |ORDER BY d.year, d.month""".stripMargin,

    "q4_payor_performance" ->
      """SELECT PayorType,
        |       COUNT(*) AS TotalClaims,
        |       SUM(CASE WHEN ClaimStatus = 'Paid' THEN 1 ELSE 0 END) AS ApprovedClaims,
        |       SUM(CASE WHEN ClaimStatus = 'Denied' THEN 1 ELSE 0 END) AS DeniedClaims,
        |       SUM(CASE WHEN ClaimStatus = 'Paid' THEN 1 ELSE 0 END) / COUNT(*) * 100 AS ApprovalRatePercent,
        |       SUM(CASE WHEN ClaimStatus = 'Denied' THEN 1 ELSE 0 END) / COUNT(*) * 100 AS DenialRatePercent,
        |       AVG(days_to_payment) AS AverageProcessingTimeInDays
        |FROM fact_claims
        |GROUP BY PayorType
        |ORDER BY TotalClaims DESC""".stripMargin,

    "q5_demographics" ->
      """SELECT source_hospital, Gender,
        |       COUNT(DISTINCT patient_sk) AS NumberOfPatients,
        |       AVG(age) AS AveragePatientAge
        |FROM dim_patients
        |WHERE is_current
        |GROUP BY source_hospital, Gender
        |ORDER BY source_hospital, NumberOfPatients DESC""".stripMargin,

    "q6_insurance_mix" ->
      """SELECT PayorType,
        |       COUNT(DISTINCT patient_sk) AS NumberOfUniquePatients
        |FROM fact_claims
        |GROUP BY PayorType
        |ORDER BY NumberOfUniquePatients DESC""".stripMargin,

    "q7_avg_days_in_ar" ->
      """SELECT AVG(days_to_payment) AS AverageDaysInAR
        |FROM fact_claims WHERE ClaimStatus = 'Paid'""".stripMargin,

    "q8_total_writeoffs" ->
      """SELECT SUM(ClaimAmount) AS TotalWriteOffAmount
        |FROM fact_claims WHERE ClaimStatus = 'Denied' AND PaidAmount = 0""".stripMargin,

    "q9_patient_lifetime_value" ->
      """SELECT /*+ BROADCAST(p) */ fc.patient_sk, p.FirstName, p.LastName, p.source_hospital,
        |       SUM(fc.ClaimAmount) AS TotalBilledToPatient,
        |       COUNT(DISTINCT fc.ClaimID) AS NumberOfClaims
        |FROM fact_claims fc JOIN dim_patients p USING (patient_sk)
        |GROUP BY fc.patient_sk, p.FirstName, p.LastName, p.source_hospital
        |ORDER BY TotalBilledToPatient DESC
        |LIMIT 20""".stripMargin,

    "q10_procedure_profitability" ->
      """SELECT /*+ BROADCAST(dp) */ dp.ProcedureDescription, dp.ProcedureCode,
        |       COUNT(ft.TransactionID) AS NumberOfTimesPerformed,
        |       SUM(ft.Amount) AS TotalRevenueGenerated,
        |       AVG(ft.Amount) AS AverageRevenuePerProcedure,
        |       SUM(ft.PaidAmount) AS TotalCollected,
        |       SUM(ft.PaidAmount) / SUM(ft.Amount) * 100 AS CollectionRatePercent
        |FROM fact_transactions ft JOIN dim_procedures dp USING (procedure_sk)
        |GROUP BY dp.ProcedureDescription, dp.ProcedureCode
        |ORDER BY TotalRevenueGenerated DESC""".stripMargin,

    "q11_seasonal_volume" ->
      """SELECT /*+ BROADCAST(d) */ d.year, d.quarter, d.month,
        |       COUNT(DISTINCT fc.patient_sk) AS UniquePatients,
        |       COUNT(*) AS TotalClaims
        |FROM fact_claims fc JOIN dim_date d USING (date_sk)
        |GROUP BY d.year, d.quarter, d.month
        |ORDER BY d.year, d.quarter, d.month""".stripMargin)

  /** Register the star and run one named query through `spark.sql`. */
  def run(spark: SparkSession, star: StarSchema, name: String): DataFrame = {
    register(star)
    spark.sql(sql(name))
  }
}
