package graft.etl

import java.time.LocalDate

import graft.Sessions
import graft.analytics.RcmAnalytics
import graft.operators.Checkpoints

/** User-facing pipeline entry point — the Spark analog of
  * `python scd_implementation.py` followed by the analysis queries:
  * runs extract→transform→model→SCD2 over a reference-shaped data
  * directory, writes the star schema as parquet, prints validation
  * counts and the Q1 KPIs.
  *
  * Usage: runMain graft.etl.RcmRun <dataDir> <outDir> [asOfDate]
  */
object RcmRun {
  def main(args: Array[String]): Unit = {
    val dataDir = if (args.length > 0) args(0) else "/root/reference"
    val outDir = if (args.length > 1) args(1) else "/tmp/rcm_staging"
    val asOf = LocalDate.parse(if (args.length > 2) args(2) else "2024-12-01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Sessions.local(cpus)

    // Prior SCD state, if a previous run wrote it (the reference reads
    // staging/dim_patients.parquet the same way).
    val existingPath = new java.io.File(s"$outDir/dim_patients.parquet")
    // pin: materialize prior state BEFORE the pipeline
    // overwrites the same path (lazy read + overwrite of the input
    // path would otherwise race).
    val existing = if (existingPath.exists())
      Some(spark.read.parquet(existingPath.toString).transform(Checkpoints.pin)) else None

    val t0 = System.nanoTime()
    val result = RcmPipeline.run(spark, dataDir, asOf, existing)
    val loads = RcmPipeline.write(result.star, outDir)
    println(f"[rcm] pipeline run+write: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    loads.foreach { l =>
      println(f"[rcm] ${l.name}%-20s ${l.reloaded}%8d rows (write-verify ok)")
    }
    println(s"[rcm] validation: orphanedPatients=${result.validation.orphanedPatients} " +
      s"nonPositiveAmounts=${result.validation.nonPositiveAmounts}")
    val kpi = RcmAnalytics.q1TotalRevenue(result.star).collect().head
    println(f"[rcm] Q1 KPIs: billed=${kpi.getAs[Double]("TotalBilledAmount")}%.2f " +
      f"collected=${kpi.getAs[Double]("TotalCollectedAmount")}%.2f " +
      f"rate=${kpi.getAs[Double]("OverallCollectionRatePercent")}%.2f%%")
    spark.stop()
  }
}
