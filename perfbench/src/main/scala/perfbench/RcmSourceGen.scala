package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded two-hospital RCM source generator.
  *
  * [[generate]] builds a day-1 and a day-2 snapshot in memory. Day 2 is
  * day 1 with Address or LastName changed on ~2% of patients (tracked
  * by SCD2), FirstName changed on ~1% more (untracked), and ~1% brand
  * new patient ids; every other table is the same. [[writeCsv]] writes
  * a day in the layout [[graft.etl.RcmExtraction.CsvSource]] reads.
  * [[writeDay1Dim]] writes, straight from the generated rows, the
  * day-1 `dim_patients` the previous night's run would have left.
  *
  * The source quirks the pipeline's logic depends on are kept:
  *  - hospital B's renamed patient columns and its `Updated_Date`;
  *  - `HOSP1-` patient ids in both hospitals;
  *  - TransactionIDs that collide across hospitals (both start at
  *    `TRANS000001`);
  *  - transactions' `PROV####` never matching providers' `H{1,2}-PROV####`;
  *  - full-word Gender;
  *  - phones with `+`, `-` and `x`;
  *  - claim dates as strings, some unparseable, plus one zero claim;
  *  - a planted set of orphan transactions whose patient id is in
  *    neither snapshot.
  *
  * Everything an output check needs is counted here, never by running
  * the pipeline: row counts, distinct procedure codes and dates, the
  * planted changes and orphans, and the claim sums.
  */
object RcmSourceGen {

  /** Rows per hospital; scale 1.0 is the reference's own sizes. */
  final case class Sizes(patients: Int, encounters: Int, transactions: Int,
      claims: Int, providers: Int, departments: Int, orphans: Int)

  def sizes(scale: Double): Sizes = {
    def n(base: Int) = math.max(8, math.round(base * scale).toInt)
    Sizes(patients = n(5000), encounters = n(10000), transactions = n(10000),
      claims = n(10000), providers = 27, departments = 19,
      orphans = math.max(2, math.round(18 * scale).toInt))
  }

  /** What the generator made and what a correct pipeline must give. */
  final case class Expected(sizes: Sizes, sourceRows: Long, day2Patients: Long,
      changedTracked: Long, changedUntracked: Long, orphanTransactions: Long,
      distinctProcedures: Long, distinctDates: Long,
      claimAmountSum: Double, paidAmountSum: Double)

  final case class Layout(root: String) {
    def hospitalDir(day: Int, h: String): String = s"$root/day$day/$h"
    def claimsFile(day: Int, h: String): String = s"$root/day$day/claims_$h.csv"
  }

  final case class Patient(id: Int, first: String, last: String, middle: String,
      ssn: String, phone: String, gender: String, dob: LocalDate, address: String,
      modified: Int)
  final case class Encounter(id: Int, patient: Int, date: Int, kind: String,
      provider: Int, dept: Int, code: Int)
  final case class Transaction(id: Int, encounter: Int, patient: Int, provider: Int,
      dept: Int, service: Int, paid: Int, kind: String, amount: Double,
      paidAmount: Double, payor: Int, code: Int, icd: Int)
  final case class Claim(id: Int, transaction: Int, encounter: Int, provider: Int,
      dept: Int, claimDate: String, payor: Int, amount: Double, paid: Double,
      status: String, payorType: String, deductible: Double, coinsurance: Double,
      copay: Double, modified: Int)
  final case class Hospital(name: String, day1: Seq[Patient], day2: Seq[Patient],
      providers: Seq[(String, String, String, Int, Long)], encounters: Seq[Encounter],
      transactions: Seq[Transaction], claims: Seq[Claim]) {
    def prefix: String = name.stripPrefix("hospital_").toUpperCase
  }
  final case class Generated(expected: Expected, hospitals: Seq[Hospital])

  val hospitals: Seq[String] = Seq("hospital_a", "hospital_b")
  val firstDay: LocalDate = LocalDate.of(2020, 1, 1)
  val daySpan = 1772 // 2020-01-01 .. 2024-11-06, the reference's dim_date span

  private val firstNames = Array("rick", "ANNA", "maria", "John", "li", "Omar",
    "grace", "PETER", "sofia", "ivan", "noah", "Emma", "zoe", "Liam", "mia")
  private val lastNames = Array("russo", "SMITH", "garcia", "Nguyen", "oconnor",
    "patel", "KIM", "schmidt", "rossi", "Brown", "dubois", "silva", "cohen")
  private val streets = Array("Main St", "Oak Ave", "Pine Rd", "Box", "Lake Dr")
  private val visitTypes = Array("Inpatient", "Outpatient", "Emergency", "Telehealth")
  private val statuses = Array("Paid", "Approved", "Pending", "Denied", "Rejected")
  private val payorTypes = Array("Government", "Private", "Self-pay")

  private def pid(i: Int) = f"HOSP1-$i%06d"
  def date(d: Int): LocalDate = firstDay.plusDays(d.toLong)
  /** Amounts carry float32 artifacts, like the reference's MySQL export. */
  private def amount(r: SplittableRandom, max: Int): Double =
    (r.nextInt(max * 100) / 100.0).toFloat.toDouble
  private def pick(r: SplittableRandom, xs: Array[String]) = xs(r.nextInt(xs.length))

  private def patient(r: SplittableRandom, id: Int, modified: Int): Patient = Patient(id,
    pick(r, firstNames), pick(r, lastNames), ('A' + r.nextInt(26)).toChar.toString,
    f"${r.nextInt(900) + 100}%03d-${r.nextInt(90) + 10}%02d-${r.nextInt(9000) + 1000}%04d",
    f"+1-${r.nextInt(800) + 200}%03d-${r.nextInt(900) + 100}%03d-${r.nextInt(10000)}%04dx${r.nextInt(10000)}%04d",
    if (r.nextBoolean()) "Female" else "Male",
    LocalDate.of(1930, 1, 1).plusDays(r.nextInt(29000).toLong),
    s"Unit ${r.nextInt(9999)} ${pick(r, streets)} ${r.nextInt(99999)}, " +
      s"City ${r.nextInt(500)} ${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}",
    modified)

  def generate(seed: Long, scale: Double): Generated = {
    val sz = sizes(scale)
    require(sz.patients * 1.02 + 10 < 900000, s"scale $scale too large for 6-digit ids")
    val hs = hospitals.zipWithIndex.map { case (h, hi) =>
      val r = new SplittableRandom(seed * 31 + hi)
      val day1 = (1 to sz.patients).map(i => patient(r, i, i % daySpan))
      val edited = day1.map { p =>
        r.nextInt(100) match { // 2% tracked (Address, LastName), 1% untracked
          case 0 => p.copy(address = p.address + " Apt 2", modified = daySpan + 20)
          case 1 => p.copy(last = lastNames((lastNames.indexOf(p.last) + 1) % lastNames.length),
            modified = daySpan + 20)
          case 2 => p.copy(first = firstNames((firstNames.indexOf(p.first) + 1) % firstNames.length),
            modified = daySpan + 20)
          case _ => p
        }
      }
      val added = (1 to math.max(1, sz.patients / 100))
        .map(j => patient(r, sz.patients + j, daySpan + 20))
      val providers = (1 to sz.providers).map(i => (f"H${hi + 1}-PROV$i%04d",
        pick(r, firstNames), pick(r, lastNames), 1 + i % sz.departments,
        1000000000L + r.nextInt(900000000)))
      val encounters = (1 to sz.encounters).map(i => Encounter(i, 1 + r.nextInt(sz.patients),
        r.nextInt(daySpan), pick(r, visitTypes), 1 + r.nextInt(sz.providers),
        1 + r.nextInt(sz.departments), 10000 + r.nextInt(1000)))
      // the last `orphans` transactions reference ids in no snapshot
      val transactions = (1 to sz.transactions).map { i =>
        val d = r.nextInt(daySpan)
        val amt = amount(r, 5000)
        Transaction(i, 1 + r.nextInt(sz.encounters),
          if (i > sz.transactions - sz.orphans) 900000 + i else 1 + r.nextInt(sz.patients),
          1 + r.nextInt(sz.providers), 1 + r.nextInt(sz.departments), d,
          math.min(daySpan - 1, d + r.nextInt(60)), pick(r, visitTypes), amt,
          (amt * (0.5 + r.nextInt(50) / 100.0)).toFloat.toDouble, 1 + r.nextInt(20),
          10000 + r.nextInt(1000), r.nextInt(999))
      }
      // one claim per transaction (cycling); ~1% unparseable claim dates
      // and a modified date often before the service date
      val claims = (1 to sz.claims).map { i =>
        val t = transactions((i - 1) % sz.transactions)
        val amt = if (i == 1) 0.0 else amount(r, 8000)
        Claim(i, t.id, 1 + r.nextInt(sz.encounters), 1 + r.nextInt(sz.providers),
          1 + r.nextInt(sz.departments),
          r.nextInt(100) match {
            case 0 => "not-a-date"
            case 1 => "2023-02-30"
            case _ => date(math.min(daySpan - 1, t.service + r.nextInt(15))).toString
          },
          1 + r.nextInt(20), amt, (amt * r.nextInt(100) / 100.0).toFloat.toDouble,
          pick(r, statuses), pick(r, payorTypes), amount(r, 500), amount(r, 300),
          amount(r, 100), math.max(0, t.service - 30 + r.nextInt(60)))
      }
      Hospital(h, day1, edited ++ added, providers, encounters, transactions, claims)
    }
    val day2Patients = hs.map(_.day2.size.toLong).sum
    val changes = hs.flatMap(h => h.day1.zip(h.day2))
    val rows = day2Patients + hs.map(h => sz.departments + h.providers.size +
      h.encounters.size + h.transactions.size + h.claims.size).sum
    Generated(Expected(sz, rows, day2Patients,
      changedTracked = changes.count { case (a, b) => a.address != b.address || a.last != b.last },
      changedUntracked = changes.count { case (a, b) => a.first != b.first },
      orphanTransactions = 2L * sz.orphans,
      distinctProcedures = hs.flatMap(_.transactions.map(_.code)).distinct.size.toLong,
      // dim_date: transaction service dates ∪ encounter dates
      distinctDates = hs.flatMap(h => h.transactions.map(_.service) ++ h.encounters.map(_.date))
        .distinct.size.toLong,
      claimAmountSum = hs.flatMap(_.claims.map(_.amount)).sum,
      paidAmountSum = hs.flatMap(_.claims.map(_.paid)).sum), hs)
  }


  private final class Csv(path: String, header: String) {
    new File(path).getParentFile.mkdirs()
    private val w = new BufferedWriter(new FileWriter(path), 1 << 16)
    w.write(header); w.write('\n')
    def row(cells: Any*): Unit = {
      w.write(cells.map { c =>
        val s = c.toString
        if (s.indexOf(',') >= 0) "\"" + s + "\"" else s
      }.mkString(","))
      w.write('\n')
    }
    def close(): Unit = w.close()
  }

  /** Writes one day's snapshot as CSVs; returns the bytes written. */
  def writeCsv(g: Generated, root: String, day: Int): Long = {
    val l = Layout(root)
    g.hospitals.foreach { h =>
      val dir = l.hospitalDir(day, h.name)
      def csv(name: String, header: String)(rows: Csv => Unit): Unit = {
        val c = new Csv(s"$dir/$name.csv", header)
        try rows(c) finally c.close()
      }
      val patientsHeader = if (h.name == "hospital_b")
        "ID,F_Name,L_Name,M_Name,SSN,PhoneNumber,Gender,DOB,Address,Updated_Date"
      else "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate"
      csv("patients", patientsHeader) { c =>
        (if (day == 1) h.day1 else h.day2).foreach(p => c.row(pid(p.id), p.first, p.last,
          p.middle, p.ssn, p.phone, p.gender, p.dob, p.address, date(p.modified)))
      }
      csv("departments", "DeptID,Name") { c =>
        (1 to g.expected.sizes.departments).foreach(d => c.row(f"DEPT$d%03d", s"Department $d"))
      }
      csv("providers", "ProviderID,FirstName,LastName,Specialization,DeptID,NPI") { c =>
        h.providers.foreach { case (id, f, l, d, npi) =>
          c.row(id, f, l, s"Specialty ${d % 7}", f"DEPT$d%03d", npi)
        }
      }
      csv("encounters", "EncounterID,PatientID,EncounterDate,EncounterType,ProviderID," +
          "DepartmentID,ProcedureCode,InsertedDate,ModifiedDate") { c =>
        h.encounters.foreach(e => c.row(f"ENC${e.id}%06d", pid(e.patient), date(e.date), e.kind,
          f"PROV${e.provider}%04d", f"DEPT${e.dept}%03d", e.code, date(e.date), date(e.date)))
      }
      csv("transactions", "TransactionID,EncounterID,PatientID,ProviderID,DeptID," +
          "VisitDate,ServiceDate,PaidDate,VisitType,Amount,AmountType,PaidAmount,ClaimID," +
          "PayorID,ProcedureCode,ICDCode,LineOfBusiness,MedicaidID,MedicareID,InsertDate," +
          "ModifiedDate") { c =>
        h.transactions.foreach(t => c.row(f"TRANS${t.id}%06d", f"ENC${t.encounter}%06d",
          pid(t.patient), f"PROV${t.provider}%04d", f"DEPT${t.dept}%03d", date(t.service),
          date(t.service), date(t.paid), t.kind, t.amount, "Co-pay", t.paidAmount,
          f"CLAIM${t.id}%06d", f"PAYOR${t.payor}%03d", t.code, f"ICD${t.icd}%03d",
          "Commercial", f"MCD${t.id}%05d", f"MCR${t.id}%05d", date(t.service), date(t.service)))
      }
      val tx = h.transactions.map(t => t.id -> t).toMap
      val c = new Csv(l.claimsFile(day, h.name),
        "ClaimID,TransactionID,PatientID,EncounterID,ProviderID,DeptID,ServiceDate," +
          "ClaimDate,PayorID,ClaimAmount,PaidAmount,ClaimStatus,PayorType,Deductible," +
          "Coinsurance,Copay,InsertDate,ModifiedDate")
      try h.claims.foreach { k =>
        val t = tx(k.transaction)
        c.row(f"CLM${k.id}%06d", f"TRANS${t.id}%06d", pid(t.patient), f"ENC${k.encounter}%06d",
          f"PROV${k.provider}%04d", f"DEPT${k.dept}%03d", date(t.service), k.claimDate,
          f"PAYOR${k.payor}%03d", k.amount, k.paid, k.status, k.payorType, k.deductible,
          k.coinsurance, k.copay, date(t.service), date(k.modified))
      } finally c.close()
    }
    dirBytes(new File(s"$root/day$day"))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length

  final case class DimPatient(patient_sk: Long, unified_patient_id: String,
      FirstName: String, LastName: String, Gender: String, age: Long, Address: String,
      source_hospital: String, version: Long, effective_date: java.sql.Date,
      expiry_date: java.sql.Date, is_current: Boolean)

  private def titleCase(s: String) = s.head.toUpper + s.tail.toLowerCase
  private def age(dob: LocalDate, asOf: LocalDate): Long =
    java.time.Period.between(dob, asOf).getYears.toLong

  /** The SCD2 `dim_patients` a first run over day 1 produces: cleaned
    * names, Gender mapped to `Unknown` (the sources hold full words),
    * version 1, keys in `(unified_patient_id, version)` order. */
  def day1Dim(g: Generated, asOf: LocalDate): Seq[DimPatient] = {
    val eff = java.sql.Date.valueOf(asOf)
    g.hospitals.flatMap(h => h.day1.map(p => (s"${h.prefix}-${pid(p.id)}", h.name, p)))
      .sortBy(_._1).zipWithIndex.map { case ((uid, hosp, p), sk) =>
        DimPatient(sk.toLong, uid, titleCase(p.first), titleCase(p.last), "Unknown",
          age(p.dob, asOf), p.address, hosp, 1L, eff, null, is_current = true)
      }
  }

  def writeDay1Dim(spark: SparkSession, g: Generated, asOf: LocalDate, path: String): Unit = {
    import spark.implicits._
    day1Dim(g, asOf).toDS().coalesce(1).write.parquet(path)
  }
}
