package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Cleaning
import graft.operators.{Checkpoints, ParallelJobs, SurrogateKeys}

/** Phase-4 star-schema assembly — re-expression of
  * `/root/reference/python/dimensional_modeling.py`.
  *
  * Faithful quirks (BASELINE.md data-quality rows — never "fixed"):
  *  - transactions' `ProviderID` (`PROV####`) never matches providers'
  *    (`H{1,2}-PROV####`) → `provider_sk` is 100% null in
  *    fact_transactions (`dimensional_modeling.py:61`);
  *  - dim_date holds only transaction/encounter dates, not claim dates
  *    (`dimensional_modeling.py:38`);
  *  - `dim_departments` is declared by the loader (`load.py:55-58`)
  *    but never built by the reference — we build it (SURVEY.md §2,
  *    table note) since a faithful warehouse needs it;
  *  - procedure descriptions are synthesized, the CPT lookup is unused
  *    (`dimensional_modeling.py:34`).
  *
  * Scale notes: all four fact-side dimension-key joins are broadcast
  * (dimension key maps are tiny relative to facts), so fact tables
  * never shuffle during key resolution; the only shuffles in this
  * phase are the `distinct()`s that build dim_procedures/dim_date,
  * which reduce map-side first (partial aggregation).
  *
  * The star always carries an SCD2 `dim_patients`: [[createDimensions]]
  * returns the patients' input snapshot under that name, the caller
  * replaces it with [[graft.operators.ScdType2]]'s output (as
  * [[RcmPipeline.runRaw]] does), and [[createFacts]] keys facts
  * against its current rows.
  *
  * Each star table is computed once per run. [[createDimensions]] pins
  * every dimension except `dim_patients`, and [[createFacts]] pins the
  * four-lookup transactions join that both facts and [[validate]]
  * read; the broadcasts, the CSV scans and the dense-key passes
  * ([[graft.operators.SurrogateKeys.surrogateKeys]]) then never re-run
  * per consumer. The pins are small (dimensions plus one fact-sized
  * frame). Lifecycle: [[graft.operators.Checkpoints]].
  */
object RcmModeling {

  final case class StarSchema(dimensions: Map[String, DataFrame], facts: Map[String, DataFrame])

  /** Validation counts (`dimensional_modeling.py:80-100`): the
    * referential-integrity orphan check (expected 36 on the reference
    * data, README.md:177) and the non-positive-amount business rule. */
  final case class Validation(orphanedPatients: Long, nonPositiveAmounts: Long)

  /** The five dimensions. All but `dim_patients` come back pinned
    * (computed here, once); `dim_patients` is the lazy SCD2 input
    * snapshot (no version columns yet), which the caller replaces with
    * the SCD2-maintained dimension before [[createFacts]]. */
  def createDimensions(tables: Map[String, DataFrame]): Map[String, DataFrame] = {
    val patients = tables("patients")
    val dimPatients = patients.select(
      col("patient_sk"), col("unified_patient_id"), col("FirstName"),
      col("LastName"), col("Gender"), col("age"), col("Address"),
      col("source_hospital"))

    val dimProviders = tables("providers")
      .join(broadcast(tables("departments")
        .select(col("DeptID"), col("Name"), col("source_hospital"))),
        Seq("DeptID", "source_hospital"), "left")
      .withColumnRenamed("Name", "DepartmentName")
      .select(col("provider_sk"), col("ProviderID"), col("FirstName"),
        col("LastName"), col("Specialization"), col("DepartmentName"),
        col("NPI"), col("source_hospital"))

    // dim_procedures: distinct codes; sk = rank of the sorted code (the
    // reference uses appearance order — an artifact of pandas state; we
    // pick the deterministic total order, SURVEY.md §7.3).
    val dimProcedures = SurrogateKeys.surrogateKeys(tables("transactions"),
        Seq("ProcedureCode"), "procedure_sk")
      .withColumn("ProcedureDescription",
        concat(lit("Desc for Code "), col("ProcedureCode").cast("string")))
      .select(col("ProcedureCode"), col("procedure_sk"), col("ProcedureDescription"))

    // dim_date: transaction ∪ encounter dates (NOT claim dates), keyed
    // like dim_procedures.
    val dimDate = SurrogateKeys.surrogateKeys(
        tables("transactions").select(col("ServiceDate").as("full_date"))
          .unionByName(tables("encounters").select(col("EncounterDate").as("full_date"))),
        Seq("full_date"), "date_sk")
      .withColumn("year", year(col("full_date")))
      .withColumn("month", month(col("full_date")))
      .withColumn("quarter", quarter(col("full_date")))
      .withColumn("day_of_week", Cleaning.dayName(col("full_date")))

    val dimDepartments = tables("departments").select(
      col("department_sk"), col("DeptID"), col("Name"), col("source_hospital"))

    // Pin the four SCD-free dimensions once, concurrently: the fact
    // lookups broadcast them and the write persists them, and each of
    // those consumers would otherwise re-derive them from the sources.
    val pinned = ParallelJobs.map(Seq(
      "dim_providers" -> dimProviders,
      "dim_procedures" -> dimProcedures,
      "dim_date" -> dimDate,
      "dim_departments" -> dimDepartments).map { case (name, df) =>
        () => name -> df.transform(Checkpoints.pin) })
    pinned.toMap + ("dim_patients" -> dimPatients)
  }

  /** The two facts. `fact_transactions` comes back pinned (computed
    * here, once); `fact_claims` stays lazy over that pin. `dims` must
    * carry the SCD2-maintained `dim_patients` (with `is_current`). */
  def createFacts(tables: Map[String, DataFrame], claims: DataFrame,
      dims: Map[String, DataFrame]): Map[String, DataFrame] = {

    // Facts key against CURRENT rows of the SCD2 dim_patients only
    // (history versions are dimension-side).
    val patientsLookup = dims("dim_patients").filter(col("is_current"))
      .select(col("unified_patient_id"), col("patient_sk"))
    val providersLookup = dims("dim_providers").select(col("ProviderID"), col("source_hospital"), col("provider_sk"))
    val dateLookup = dims("dim_date").select(col("full_date"), col("date_sk"))
    val proceduresLookup = dims("dim_procedures").select(col("ProcedureCode"), col("procedure_sk"))

    // fact_transactions: re-derive the unified id then resolve all four
    // dimension keys by broadcast left joins (J3). Pinned once with
    // `source_hospital`: the fact is a projection of it, and the claims
    // lookup below, validation and the write all read it.
    val trans = tables("transactions")
      .withColumn("unified_patient_id",
        Cleaning.unifiedPatientId(col("source_hospital"), col("PatientID")))
    val mergedTrans = trans
      .join(broadcast(patientsLookup), Seq("unified_patient_id"), "left")
      .join(broadcast(providersLookup), Seq("ProviderID", "source_hospital"), "left")
      .join(broadcast(proceduresLookup), Seq("ProcedureCode"), "left")
      .join(broadcast(dateLookup), trans("ServiceDate") === dateLookup("full_date"), "left")
      .select(
        col("TransactionID"), col("EncounterID"), col("patient_sk"),
        col("provider_sk"), col("procedure_sk"), col("date_sk"),
        col("Amount"), col("PaidAmount"), col("source_hospital"))
      .transform(Checkpoints.pin)
    val factTransactions = mergedTrans.drop("source_hospital")

    // fact_claims: inherit patient_sk through the transactions lookup
    // on (TransactionID, source_hospital) — TransactionID alone
    // collides across hospitals (J4).
    val transLookup = mergedTrans.select(col("TransactionID"), col("patient_sk"), col("source_hospital"))
    val mergedClaims = claims
      .join(transLookup, Seq("TransactionID", "source_hospital"), "left")
      .join(broadcast(dateLookup), claims("ServiceDate") === dateLookup("full_date"), "left")
    val factClaims = mergedClaims.select(
      col("ClaimID"), col("TransactionID"), col("patient_sk"), col("date_sk"),
      col("ClaimAmount"), col("PaidAmount"), col("ClaimStatus"), col("PayorType"),
      col("Deductible"), col("Coinsurance"), col("Copay"), col("days_to_payment"))

    Map("fact_transactions" -> factTransactions, "fact_claims" -> factClaims)
  }

  /** Both counts in one pass over the facts: a left join to the
    * distinct dimension keys tags each fact row with a marker, so an
    * orphan is a row whose marker is null. A null `patient_sk` never
    * matches and counts as an orphan, as under a `left_anti` join. */
  def validate(star: StarSchema): Validation = {
    val validKeys = star.dimensions("dim_patients").select(col("patient_sk")).distinct()
      .withColumn("__graft_known", lit(true))
    val row = star.facts("fact_transactions")
      .join(validKeys, Seq("patient_sk"), "left")
      .agg(count(when(col("__graft_known").isNull, 1)),
        count(when(col("Amount") <= 0, 1)))
      .head()
    Validation(row.getLong(0), row.getLong(1))
  }
}
