package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.etl.RcmExtraction

/** A two-hospital RCM source set small enough to write per spec: a few
  * dozen CSV rows per table, in the reference's layout and with the
  * FIXTURES.md traits the pipeline depends on:
  *  - hospital B's patients use the renamed columns (`ID`, `F_Name`,
  *    `L_Name`, `M_Name`) and `Updated_Date` (never renamed), and its
  *    ids are `HOSP1-`-prefixed like A's;
  *  - TransactionIDs collide across hospitals (both start at
  *    `TRANS000001`), so claims must join on
  *    `(TransactionID, source_hospital)`;
  *  - one planted orphan: hospital A's last transaction names a
  *    patient that does not exist;
  *  - one transaction with a zero amount (the non-positive rule);
  *  - providers never match transactions' `ProviderID` format.
  *
  * Day 2 differs from day 1 by exactly one tracked change (A's patient
  * 3 moves), one untracked change (B's patient 4 changes first name)
  * and one new id (A's patient 11). Transactions, encounters and claims
  * are the same on both days. */
object RcmFixtures {
  val hospitals: Seq[String] = Seq("hospital_a", "hospital_b")
  val patientsPerHospital = 10
  val transactionsPerHospital = 12
  val orphanTransactions = 1L
  val nonPositiveAmounts = 1L
  val trackedChanges = 1L
  val newIds = 1L
  val trackedChangeId = "A-HOSP1-000003"
  val untrackedChangeId = "B-HOSP1-000004"
  val newId = "A-HOSP1-000011"

  private val departments = Seq("DEPT001" -> "Cardiology", "DEPT002" -> "Oncology",
    "DEPT003" -> "Pediatrics")
  private val procedureCodes = Seq(99201, 99202, 99203, 99204, 99205)

  private def pid(i: Int) = f"HOSP1-$i%06d"
  private def txnId(i: Int) = f"TRANS$i%06d"
  private def serviceDate(i: Int) = java.time.LocalDate.of(2024, 3, 1).plusDays(i % 7L)
  private def encounterDate(i: Int) = java.time.LocalDate.of(2024, 2, 1).plusDays(i.toLong)

  private def patientRows(h: String, day: Int): Seq[Seq[String]] = {
    val n = patientsPerHospital + (if (h == "hospital_a" && day == 2) 1 else 0)
    (1 to n).map { i =>
      val moved = h == "hospital_a" && day == 2 && i == 3
      val renamed = h == "hospital_b" && day == 2 && i == 4
      Seq(pid(i), if (renamed) "renamed" else s"first$i", s"last$i", "M",
        f"100-00-$i%04d", f"+1-630-829-$i%04dx01", if (i % 2 == 0) "Female" else "Male",
        s"19${50 + i}-06-04", if (moved) "\"Unit 99, Box 1\"" else s"\"Unit $i, Box 7\"",
        "2020-05-25")
    }
  }

  private def transactionPatient(h: String, i: Int): String =
    if (h == "hospital_a" && i == transactionsPerHospital) pid(999999)
    else pid((i - 1) % patientsPerHospital + 1)

  private def amount(h: String, i: Int): Double =
    if (h == "hospital_b" && i == 5) 0.0 else 100.0 + i

  private def csv(header: String, rows: Seq[Seq[Any]]): String =
    (header +: rows.map(_.mkString(","))).mkString("", "\n", "\n")

  private def put(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  def hospitalDir(root: String, day: Int, h: String): String = s"$root/day$day/$h"
  def claimsFile(root: String, day: Int, h: String): String = s"$root/day$day/claims_$h.csv"

  /** Writes both hospitals' tables and claims for `day` under `root`. */
  def write(root: String, day: Int): Unit = hospitals.foreach { h =>
    val dir = hospitalDir(root, day, h)
    val prov = if (h == "hospital_a") "H1" else "H2"
    put(s"$dir/departments.csv", csv("DeptID,Name", departments.map { case (d, n) => Seq(d, n) }))
    put(s"$dir/providers.csv", csv("ProviderID,FirstName,LastName,Specialization,DeptID,NPI",
      departments.zipWithIndex.map { case ((d, n), i) =>
        Seq(f"$prov-PROV${i + 1}%04d", s"doc$i", s"smith$i", n, d, 1000000000L + i)
      }))
    put(s"$dir/patients.csv", csv(
      if (h == "hospital_a") "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate"
      else "ID,F_Name,L_Name,M_Name,SSN,PhoneNumber,Gender,DOB,Address,Updated_Date",
      patientRows(h, day)))
    put(s"$dir/encounters.csv", csv("EncounterID,PatientID,EncounterDate,EncounterType," +
      "ProviderID,DepartmentID,ProcedureCode,InsertedDate,ModifiedDate",
      (1 to patientsPerHospital).map { i =>
        Seq(f"ENC$i%05d", pid(i), encounterDate(i), "Outpatient", "PROV0001",
          "DEPT001", procedureCodes(i % procedureCodes.size), "2024-01-01", "2024-01-01")
      }))
    put(s"$dir/transactions.csv", csv("TransactionID,EncounterID,PatientID,ProviderID,DeptID," +
      "VisitDate,ServiceDate,PaidDate,VisitType,Amount,AmountType,PaidAmount,ClaimID," +
      "PayorID,ProcedureCode,ICDCode,LineOfBusiness,MedicaidID,MedicareID,InsertDate,ModifiedDate",
      (1 to transactionsPerHospital).map { i =>
        Seq(txnId(i), f"ENC$i%05d", transactionPatient(h, i), "PROV0001", "DEPT001",
          serviceDate(i), serviceDate(i), serviceDate(i).plusDays(30), "Outpatient",
          amount(h, i), "Co-pay", amount(h, i) * 0.8, f"CLAIM$i%05d", "PAYOR1",
          procedureCodes(i % procedureCodes.size), "I10", "Commercial", "", "",
          "2024-01-01", "2024-01-01")
      }))
    put(claimsFile(root, day, h), csv("ClaimID,TransactionID,PatientID,EncounterID,ProviderID," +
      "DeptID,ServiceDate,ClaimDate,PayorID,ClaimAmount,PaidAmount,ClaimStatus,PayorType," +
      "Deductible,Coinsurance,Copay,InsertDate,ModifiedDate",
      (1 to transactionsPerHospital).map { i =>
        Seq(f"CLAIM$i%05d", txnId(i), transactionPatient(h, i), f"ENC$i%05d", "PROV0001",
          "DEPT001", serviceDate(i), serviceDate(i).plusDays(2), "PAYOR1", amount(h, i),
          amount(h, i) * 0.8, if (i % 2 == 0) "Paid" else "Denied", "Private", 10.0, 5.0,
          2.0, "2024-01-01", serviceDate(i).plusDays(20))
      }))
  }

  /** The extraction over one day's files. */
  def extract(spark: SparkSession, root: String, day: Int): RcmExtraction.RawData = {
    val Seq(a, b) = hospitals
    RcmExtraction.run(spark,
      RcmExtraction.CsvSource(hospitalDir(root, day, a), a),
      RcmExtraction.CsvSource(hospitalDir(root, day, b), b),
      hospitals.map(h => (claimsFile(root, day, h), h)))
  }

  /** The procedure codes transactions use, in ascending order: the
    * `dim_procedures` members (either day). */
  val dimProcedureCodes: Seq[Int] = (1 to transactionsPerHospital)
    .map(i => procedureCodes(i % procedureCodes.size)).distinct.sorted

  /** Transaction service dates ∪ encounter dates, ascending: the
    * `dim_date` members (either day). */
  val dimDates: Seq[java.time.LocalDate] = ((1 to transactionsPerHospital).map(serviceDate) ++
    (1 to patientsPerHospital).map(encounterDate)).distinct.sortBy(_.toEpochDay)

  /** Row counts each star table must have after a night of `day`,
    * counted from the fixture's own definitions. */
  def expectedRows(day: Int): Map[String, Long] =
    Map(
      "dim_patients" -> (2L * patientsPerHospital +
        (if (day == 2) newIds + trackedChanges else 0L)),
      "dim_providers" -> 2L * departments.size,
      "dim_departments" -> 2L * departments.size,
      "dim_procedures" -> dimProcedureCodes.size.toLong,
      "dim_date" -> dimDates.size.toLong,
      "fact_transactions" -> 2L * transactionsPerHospital,
      "fact_claims" -> 2L * transactionsPerHospital)
}
