package graft.etl

import java.io.FileNotFoundException
import java.time.LocalDate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, DataQuality, ParallelJobs, ScdType2}

/** End-to-end pipeline — the Spark re-expression of the reference's
  * entry point (`/root/reference/python/scd_implementation.py:102-132`):
  * extract → transform → model → SCD2 on dim_patients → persist.
  *
  * Differences from the reference, both deliberate:
  *  - `asOf` replaces wall-clock `datetime.now()` (determinism);
  *  - the reference's subsequent-run SCD path crashes on real changes
  *    (it reads `version_old` from a merge that never suffixes
  *    `version`, `scd_implementation.py:66` — only its first-run path
  *    ever succeeded, hence all-version-1 staging output). We implement
  *    the documented intent (SURVEY.md §2.10) via [[ScdType2]].
  */
object RcmPipeline {

  val scdTrackedAttrs: Seq[String] = Seq("Address", "LastName")
  val dimPatientAttrs: Seq[String] =
    Seq("FirstName", "LastName", "Gender", "age", "Address", "source_hospital")

  final case class Result(star: RcmModeling.StarSchema, validation: RcmModeling.Validation)

  def run(spark: SparkSession, refDir: String, asOf: LocalDate,
      existingDimPatients: Option[DataFrame] = None): Result =
    runRaw(RcmExtraction.runOnReferenceData(spark, refDir), asOf, existingDimPatients)

  /** Same pipeline over already-extracted raw data — the entry point a
    * JDBC deployment uses after [[RcmExtraction.run]] with
    * [[RcmExtraction.JdbcSource]]s (exercised in JdbcSourceSpec).
    *
    * The night runs in one pin scope: the star keeps the pins it
    * reaches, which the caller releases once the star is written, and
    * every other pin (e.g. a dense-key pass a pinned dimension
    * consumed) is released on return ([[graft.operators.Checkpoints]]). */
  def runRaw(raw: RcmExtraction.RawData, asOf: LocalDate,
      existingDimPatients: Option[DataFrame] = None): Result = Checkpoints.scoped {
    val asOfCol = lit(java.sql.Date.valueOf(asOf))
    val (tables, claims) = RcmTransform.run(raw, asOfCol)

    // Dimensions first, then SCD2 on dim_patients, THEN facts — so
    // fact patient_sk always resolves against the SCD-maintained dim's
    // current rows (the reference rebuilds facts each run against the
    // re-keyed dim, `dimensional_modeling.py:60`).
    val dims = RcmModeling.createDimensions(tables)
    val newSnapshot = dims("dim_patients")
      .select(("unified_patient_id" +: dimPatientAttrs).map(col): _*)
    val scdDim = ScdType2(newSnapshot, existingDimPatients, "unified_patient_id",
      dimPatientAttrs, scdTrackedAttrs, "patient_sk", asOf)
    val dimsWithScd = dims + ("dim_patients" -> scdDim)

    val facts = RcmModeling.createFacts(tables, claims, dimsWithScd)
    val star = RcmModeling.StarSchema(dimsWithScd, facts)
    Result(star, RcmModeling.validate(star))
  }

  /** One table's write-then-verify reconciliation: rows the pipeline
    * computed vs rows actually re-readable from the sink (the
    * reference's post-load validation, `load.py:115-119`). */
  final case class TableLoad(name: String, written: Long, reloaded: Long) {
    def reconciled: Boolean = written == reloaded
  }

  /** S4/S5 analog: persist the star schema as parquet and reconcile
    * every table — write, re-read from the sink, compare counts. A
    * mismatch (lost task output, partial overwrite, sink corruption)
    * throws rather than letting a silently-short table flow downstream.
    *
    * The BigQuery clustering spec (`load.py:100-103`) maps to
    * sort-within-partition layout: facts by `patient_sk`, dim_patients
    * by `(unified_patient_id, is_current)` — giving the same locality
    * for sk-point queries that BQ clustering gives.
    *
    * Write protocol: `written` is counted by the write itself, through
    * an [[org.apache.spark.sql.Observation]] on the frame being written
    * ([[DataQuality.observeValidation]]'s `n_rows`), so the count and
    * the sink see the same rows without pinning the table first. Each
    * write gets its own unnamed observation, so the concurrent writes
    * cannot collide. `reloaded` is re-read from the sink, not taken
    * from the write's metrics: the row counts in the parquet footers
    * of the data files the table's directory lists once the write has
    * committed (hidden `_`/`.` files skipped, as Spark's file index
    * skips them). A table whose files all vanished reloads as 0.
    *
    * Scale notes: one write job per table (the writes overlap through
    * [[ParallelJobs]], so one table's straggler tail back-fills the
    * next). The reconcile runs no Spark job: the driver lists each
    * table's directory and reads one footer per file, O(files) small
    * reads (a few per table here; at thousands of files per table a
    * listing service's per-file cost dominates and the footers could
    * be read by one distributed job instead). The observation is a
    * map-side count folded into the write's tasks. Neither recomputes
    * the pipeline: the expensive star inputs are pinned upstream
    * ([[RcmModeling]]), and each table's own plan runs exactly once. */
  def write(star: RcmModeling.StarSchema, outDir: String): Seq[TableLoad] = {
    val clustering: Map[String, Seq[String]] = Map(
      "fact_transactions" -> Seq("patient_sk"),
      "fact_claims" -> Seq("patient_sk"),
      "dim_patients" -> Seq("unified_patient_id", "is_current"))
    val tables = (star.dimensions ++ star.facts).toSeq
    def path(name: String) = s"$outDir/$name.parquet"
    val written = ParallelJobs.map(tables.map { case (name, df) => () => {
      val out = clustering.get(name) match {
        case Some(cols) => df.sortWithinPartitions(cols.map(col): _*)
        case None       => df
      }
      val obs = Observation()
      DataQuality.observeValidation(out, obs, Seq.empty)
        .write.mode("overwrite").parquet(path(name))
      (name, obs.get("n_rows").asInstanceOf[Long])
    }})
    val conf = tables.head._2.sparkSession.sessionState.newHadoopConf()
    val loads = written.map { case (name, n) => TableLoad(name, n, footerRows(path(name), conf)) }
    val bad = loads.filterNot(_.reconciled)
    require(bad.isEmpty,
      s"post-load reconciliation failed: ${bad.mkString(", ")}")
    loads
  }

  /** Rows in the parquet data files directly under `dir`, summed from
    * their footers; 0 when the directory is gone. */
  private def footerRows(dir: String, conf: Configuration): Long = {
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    val files = try fs.listStatus(path)
      catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    files.iterator
      .filter(f => f.isFile && !Seq("_", ".").exists(f.getPath.getName.startsWith))
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try reader.getRecordCount finally reader.close()
      }.sum
  }
}
