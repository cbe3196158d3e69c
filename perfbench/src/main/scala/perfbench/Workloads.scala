package perfbench

import java.io.File
import java.time.LocalDate

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.RcmAnalytics
import graft.etl.{RcmExtraction, RcmModeling, RcmPipeline, RcmTransform}
import graft.operators.{Boilerplate, CurationPipeline => CP, LanguageModel, ModelCache,
  QualityClassifier, ScdType2, TextFunctions}

/** One iteration's outcome. `opMs` holds one latency per operation (a
  * night, an epoch); `units` is the rows or docs the iteration
  * processed in `wallMs`. `tracedOnlyMs` is time spent in spans that
  * exist only in traced iterations; `layerMs` carries per-layer times
  * measured inside spans (the KPI plan/execute split). */
final case class Iteration(opMs: Seq[Double], units: Long, wallMs: Double,
    failedOps: Int, problems: Seq[String], outputHash: String,
    tracedOnlyMs: Double = 0.0, layerMs: Map[String, Double] = Map.empty)

trait Workload {
  /** Writes this workload's inputs under `dir`, from the seed. */
  def generate(dir: String): Unit
  /** Builds the state the timed iterations start from. */
  def prime(dir: String): Unit
  def iteration(tracer: Tracer): Iteration
  /** The untimed iteration that follows set-up. */
  def warmup(tracer: Tracer): Iteration = iteration(tracer)
  /** Fewest measured iterations a run needs for its metrics. */
  def minIterations: Int = 1
  /** Input sizes, for the run record. */
  def inputs: Map[String, Any]
  /** Set in traced runs: iterations then hash their full output, so
    * traced and untraced outputs can be compared. */
  var hashOutputs = false
}

object Workload {
  /** Releases the blocks the previous iteration pinned, so iterations
    * start alike (the release pattern `graft.Bench.releaseBlocks`
    * documents). Not part of any timed operation. */
  def releaseBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Order-independent content hash of a frame: row count and the sum
    * of each row's 64-bit hash. */
  def contentHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** Hash of collected rows with doubles rounded to 10 significant
    * digits, so float summation order cannot change it. */
  def rowsHash(rows: Seq[Row]): Int = MurmurHash3.seqHash(rows.map(_.toSeq.map {
    case d: Double if !d.isNaN && !d.isInfinite =>
      BigDecimal(d).round(new java.math.MathContext(10)).toString
    case v => String.valueOf(v)
  }.mkString("|")).sorted)

  def elapsedMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
}

/** The reference's nightly job on day 2: extract → `runRaw` (SCD2
  * against the day-1 `dim_patients`) → write + reconcile. One
  * operation is one such night. The traced iteration makes the calls
  * `RcmPipeline.runRaw` makes, one span each, and then — outside the
  * operation's time — the dashboard refresh the star feeds: the 11 KPI
  * queries over the star just written. */
final class RcmNightly(spark: SparkSession, seed: Long, scale: Double,
    corrupt: Boolean) extends Workload {
  import Workload._
  // a night takes most of --seconds: three give op_p50_ms a real median
  override val minIterations = 3
  private val asOf1 = LocalDate.of(2024, 12, 1)
  private val asOf2 = LocalDate.of(2024, 12, 2)
  private var dir: String = _
  private var expected: RcmSourceGen.Expected = _
  private var inputBytes = 0L
  private var generated: RcmSourceGen.Generated = _
  private var kpiReference = Map.empty[String, Int]

  def generate(d: String): Unit = {
    dir = d
    generated = RcmSourceGen.generate(seed, scale)
    expected = generated.expected
    inputBytes = RcmSourceGen.writeCsv(generated, s"$d/src", day = 2)
    kpiReference = Map.empty
  }

  private def extract(): RcmExtraction.RawData = {
    val l = RcmSourceGen.Layout(s"$dir/src")
    val Seq(a, b) = RcmSourceGen.hospitals
    RcmExtraction.run(spark, RcmExtraction.CsvSource(l.hospitalDir(2, a), a),
      RcmExtraction.CsvSource(l.hospitalDir(2, b), b),
      RcmSourceGen.hospitals.map(h => (l.claimsFile(2, h), h)))
  }

  /** The day-1 `dim_patients` the previous night's run left. */
  def prime(d: String): Unit =
    RcmSourceGen.writeDay1Dim(spark, generated, asOf1, s"$dir/day1/dim_patients.parquet")

  def inputs: Map[String, Any] = Map("scale_vs_reference" -> scale,
    "source_rows" -> expected.sourceRows, "input_bytes" -> inputBytes,
    "patients_day2" -> expected.day2Patients, "planted_changes" -> expected.changedTracked,
    "untracked_changes" -> expected.changedUntracked,
    "planted_orphans" -> expected.orphanTransactions)

  private def existing: DataFrame = spark.read.parquet(s"$dir/day1/dim_patients.parquet")

  private val tableNames = Seq("dim_patients", "dim_providers", "dim_procedures",
    "dim_date", "dim_departments", "fact_transactions", "fact_claims")

  private val kpis: Seq[(String, RcmModeling.StarSchema => DataFrame)] = Seq(
    "q1" -> RcmAnalytics.q1TotalRevenue, "q2" -> RcmAnalytics.q2RevenueByHospital,
    "q3" -> RcmAnalytics.q3MonthlyTrends, "q4" -> RcmAnalytics.q4PayorPerformance,
    "q5" -> RcmAnalytics.q5Demographics, "q6" -> RcmAnalytics.q6InsuranceMix,
    "q7" -> RcmAnalytics.q7AvgDaysInAR, "q8" -> RcmAnalytics.q8TotalWriteOffs,
    "q9" -> RcmAnalytics.q9PatientLifetimeValue,
    "q10" -> RcmAnalytics.q10ProcedureProfitability,
    "q11" -> RcmAnalytics.q11SeasonalVolume)

  def iteration(tracer: Tracer): Iteration = {
    val out = s"$dir/out"
    val t0 = System.nanoTime()
    var scanClean = 0.0
    val (validation, loads) =
      if (!tracer.enabled) {
        val r = RcmPipeline.runRaw(extract(), asOf2, Some(existing))
        (r.validation, RcmPipeline.write(r.star, out))
      } else {
        // RcmPipeline.runRaw's calls, one span each
        val raw = tracer.span("etl.extract")(extract())
        val (tables, claims) = tracer.span("etl.transform") {
          RcmTransform.run(raw, lit(java.sql.Date.valueOf(asOf2)))
        }
        val s0 = System.nanoTime()
        tracer.span("etl.scan_clean") {
          (tables.values.toSeq :+ claims).foreach(
            _.write.format("noop").mode("overwrite").save())
        }
        scanClean = elapsedMs(s0)
        val dims = tracer.span("etl.dimensions")(RcmModeling.createDimensions(tables))
        val scd = tracer.span("operators.scd2") {
          val snap = dims("dim_patients").select(
            ("unified_patient_id" +: RcmPipeline.dimPatientAttrs).map(col): _*)
          ScdType2(snap, Some(existing), "unified_patient_id", RcmPipeline.dimPatientAttrs,
            RcmPipeline.scdTrackedAttrs, "patient_sk", asOf2)
        }
        val withScd = dims + ("dim_patients" -> scd)
        val facts = tracer.span("etl.facts")(RcmModeling.createFacts(tables, claims, withScd))
        val star = RcmModeling.StarSchema(withScd, facts)
        val v = tracer.span("etl.validate")(RcmModeling.validate(star))
        (v, tracer.span("etl.write")(RcmPipeline.write(star, out)))
      }
    val ms = elapsedMs(t0)
    releaseBlocks(spark)
    val kpi = if (tracer.enabled) refresh(out, tracer) else KpiRefresh(Seq.empty, 0.0, 0.0)
    val problems = checkStar(out, validation, loads) ++ checkKpis(kpi.results)
    val hash = if (hashOutputs) starHash(out) else ""
    Iteration(Seq(ms), expected.sourceRows, ms, if (problems.isEmpty) 0 else 1,
      problems, hash, scanClean,
      Map("analytics.kpi.plan_ms" -> kpi.planMs, "analytics.kpi.exec_ms" -> kpi.execMs))
  }

  private final case class KpiRefresh(results: Seq[(String, Seq[Row])], planMs: Double,
      execMs: Double)

  /** The 11 KPIs over the written star, one span each, split into
    * planning (to `executedPlan`) and execution. */
  private def refresh(out: String, tracer: Tracer): KpiRefresh = {
    def read(t: String) = t -> spark.read.parquet(s"$out/$t.parquet")
    val (dimNames, factNames) = tableNames.partition(_.startsWith("dim_"))
    val star = RcmModeling.StarSchema(dimNames.map(read).toMap, factNames.map(read).toMap)
    var planMs, execMs = 0.0
    val results = kpis.map { case (q, f) =>
      q -> tracer.span(s"analytics.$q") {
        val df = f(star)
        val p = System.nanoTime()
        df.queryExecution.executedPlan
        planMs += elapsedMs(p)
        val x = System.nanoTime()
        val rows = df.collect().toSeq
        execMs += elapsedMs(x)
        rows
      }
    }
    KpiRefresh(results, planMs, execMs)
  }

  private def starHash(out: String): String =
    tableNames.map(t => contentHash(spark.read.parquet(s"$out/$t.parquet"))).mkString(",")

  /** Star checks from plain parquet reads and the generator's counts. */
  private def checkStar(out: String, v: RcmModeling.Validation,
      loads: Seq[RcmPipeline.TableLoad]): Seq[String] = {
    val e = expected
    def read(t: String) = spark.read.parquet(s"$out/$t.parquet")
    val facts = if (corrupt) read("fact_transactions")
        .filter(monotonically_increasing_id() =!= 0L) // drops one row
      else read("fact_transactions")
    val counts = tableNames.map(t => t -> (if (t == "fact_transactions") facts else read(t)).count()).toMap
    val want = Map(
      "dim_patients" -> (e.day2Patients + e.changedTracked),
      "dim_providers" -> 2L * e.sizes.providers,
      "dim_procedures" -> e.distinctProcedures,
      "dim_date" -> e.distinctDates,
      "dim_departments" -> 2L * e.sizes.departments,
      "fact_transactions" -> 2L * e.sizes.transactions,
      "fact_claims" -> 2L * e.sizes.claims)
    val p = Seq.newBuilder[String]
    tableNames.foreach { t =>
      if (counts(t) != want(t)) p += s"$t has ${counts(t)} rows, generator wrote ${want(t)}"
    }
    loads.foreach { l =>
      if (!l.reconciled || l.written != counts(l.name))
        p += s"${l.name} does not reconcile: wrote ${l.written}, reloaded ${l.reloaded}, read ${counts(l.name)}"
    }
    if (loads.map(_.name).toSet != tableNames.toSet) p += s"write returned ${loads.map(_.name)}"
    val Row(current: Long, expired: Long, badIds: Long) = read("dim_patients")
      .groupBy(col("unified_patient_id"))
      .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("cur"),
        sum(when(col("is_current"), 0L).otherwise(1L)).as("old"))
      .agg(sum(col("cur")), sum(col("old")), sum(when(col("cur") =!= 1L, 1L).otherwise(0L)))
      .head()
    if (badIds != 0) p += s"$badIds ids without exactly one current row"
    if (current != e.day2Patients) p += s"$current current rows, want ${e.day2Patients}"
    if (expired != e.changedTracked) p += s"$expired expired rows, planted ${e.changedTracked} changes"
    val nullSk = facts.filter(col("patient_sk").isNull).count()
    if (nullSk != e.orphanTransactions || v.orphanedPatients != e.orphanTransactions)
      p += s"orphans: validate ${v.orphanedPatients}, null patient_sk $nullSk, planted ${e.orphanTransactions}"
    p.result()
  }

  /** Q1 totals against the generated claims; every KPI's result the
    * same on every traced night of the run (the inputs do not change). */
  private def checkKpis(results: Seq[(String, Seq[Row])]): Seq[String] = results.flatMap {
    case (q, rows) =>
      val h = rowsHash(rows)
      val first = kpiReference.getOrElse(q, { kpiReference += q -> h; h })
      def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      if (h != first) Some(s"$q result changed between nights")
      else if (q == "q1" && !(near(rows.head.getDouble(0), expected.claimAmountSum) &&
          near(rows.head.getDouble(1), expected.paidAmountSum)))
        Some(s"q1 totals ${rows.head} differ from the generated claims' sums " +
          s"${expected.claimAmountSum}, ${expected.paidAmountSum}")
      else None
  }
}

/** The streamed curation DAG: epoch slices through `readStream …
  * foreachBatch(CurationPipeline.sink)` with the ledger on, then a
  * takedown of ~5% of the kept ids, then the packed-shard export. */
final class CurationStream(spark: SparkSession, seed: Long, docs: Int,
    epochs: Int, corrupt: Boolean) extends Workload {
  import Workload._
  private var dir: String = _
  private var stream: DataFrame = _
  private var sliceSizes: Map[Long, Long] = Map.empty
  private var keptReference: Option[String] = None
  private var corpus: DataFrame = _
  private var runs = 0

  /** The three pre-trained model stores live with the inputs; the
    * stores a stream maintains live under its own `root`. */
  private def model(name: String) = s"$dir/models/$name"
  private def stores(root: String) = CP.Stores(lineDf = model("ldf"),
    quality = model("qual"), lm = model("lm"), signatures = s"$root/sig",
    kept = s"$root/kept", ledger = Some(s"$root/led"))

  private val gates = CP.Gates(minDf = 10L, buckets = 4096, keepLabel = "good",
    lmCutAvgFp = 3.6e7,
    mixKeep = substring(col("source"), 4, 10).cast("int") % 2 =!= 0 ||
      pmod(TextFunctions.hash60(concat(col("source"), lit(":"),
        col("doc_id").cast("string"))), lit(4L)) < 2)

  def generate(d: String): Unit = {
    dir = d
    // inputs live as parquet, not pins: iterations release every pin
    DocGen.frame(spark, seed, docs).write.parquet(s"$d/corpus")
    corpus = spark.read.parquet(s"$d/corpus")
    DocGen.stream(corpus, epochs).write.parquet(s"$d/stream")
    stream = spark.read.parquet(s"$d/stream")
    sliceSizes = stream.groupBy(col("__epoch")).count().collect()
      .map(r => (r.getAs[Number](0).longValue + 1) -> r.getLong(1)).toMap
  }

  /** The pre-trained models: line-df on the markup-stripped originals,
    * quality (label: at least 300 chars) and LM on the raw corpus. */
  def prime(d: String): Unit = {
    val marked = stream.filter(col("doc_id") < DocGen.CopyOffset).drop("__epoch")
    Boilerplate.writeLineDfStore(marked.withColumn("text", Boilerplate.stripMarkup(col("text"))),
      "doc_id", "source", "text", model("ldf"), batchId = 1L)
    QualityClassifier.writeQualityStore(
      corpus.withColumn("label", when(col("n_chars") >= 300, lit("good")).otherwise(lit("bad"))),
      "label", "text", buckets = 4096, root = model("qual"), batchId = 1L)
    LanguageModel.writeLmStore(corpus, "doc_id", "text", model("lm"), batchId = 1L)
  }

  /** The upstream feed: one parquet file per epoch slice, with mtimes
    * set a second apart so the file source reads them in epoch order
    * (dedup keeps first arrival, so the order is part of the result). */
  private def stage(dir: String, slices: Int): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val base = System.currentTimeMillis() - 3600000L
    (0 until slices).foreach { e =>
      stream.filter(col("__epoch") === e).drop("__epoch")
        .coalesce(1).write.mode("append").parquet(dir)
      fs.listStatus(path).filter(_.getPath.getName.endsWith(".parquet"))
        .filter(_.getModificationTime > base + 1800000L)
        .foreach(st => fs.setTimes(st.getPath, base + e * 1000L, -1))
    }
  }

  def inputs: Map[String, Any] = Map("docs" -> docs, "epochs" -> epochs,
    "slice_docs" -> sliceSizes.values.sum)

  def iteration(tracer: Tracer): Iteration = run(epochs, tracer)

  /** A one-epoch stream: warms every stage without a full stream's cost. */
  override def warmup(tracer: Tracer): Iteration = run(1, tracer)

  private def run(slices: Int, tracer: Tracer): Iteration = {
    runs += 1
    val root = s"$dir/run$runs"
    val st = stores(root)
    stage(s"$root/stage", slices)

    val models = new ModelCache
    val sink = CP.sink(st, gates, "doc_id", "source", "text", models = Some(models))
    val sinkEnds = scala.collection.mutable.ArrayBuffer[Long]()
    val t0 = System.nanoTime()
    tracer.span("streaming.epoch_overhead") {
      val q = spark.readStream.schema(stream.drop("__epoch").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/stage")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          tracer.span("operators.process_slice")(sink(b, id))
          sinkEnds.synchronized { sinkEnds += System.nanoTime() }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val streamMs = elapsedMs(t0)
    models.releaseAll()
    val opMs = (t0 +: sinkEnds.toSeq).sliding(2).map { case Seq(a, b) => (b - a) / 1e6 }.toSeq

    // checks on the committed stream, before the takedown changes it
    val ledger0 = CP.readLedger(spark, st.ledger.get, "doc_id")
    val ledger = if (corrupt) ledger0.filter(monotonically_increasing_id() =!= 0L) else ledger0
    val funnel = CP.funnel(ledger).groupBy(col("batch")).agg(sum(col("n_exited")))
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val batches = (1L to slices.toLong)
    val badEpochs = batches.filter(b => !funnel.get(b).contains(sliceSizes(b)))
    val dupDispositions = ledger.groupBy(col("doc_id")).count().filter(col("count") =!= 1L).count()
    val keptIds = spark.read.parquet(st.kept).select(col("doc_id")).localCheckpoint()
    val keptHash = contentHash(keptIds)
    val erased = keptIds.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(20L)) === 0L)
      .localCheckpoint()

    val t1 = System.nanoTime()
    tracer.span("operators.erase") {
      CP.deleteFromKept(erased, "doc_id", st.kept, batchId = 1L)
      CP.deleteFromLedger(erased, "doc_id", st.ledger.get, batchId = 1L)
      CP.purgeKept(spark, st.kept, "doc_id", newBatchId = epochs + 100L)
      CP.purgeLedger(spark, st.ledger.get, "doc_id", newBatchId = epochs + 100L)
    }
    val shards = tracer.span("operators.pack_export") {
      CP.packedShards(spark, st, "doc_id", "text", shards = 4, budgetTokens = 512).collect()
    }
    val wall = streamMs + elapsedMs(t1)

    val p = Seq.newBuilder[String]
    if (opMs.size != slices || funnel.size != slices)
      p += s"${opMs.size} epochs ran and ${funnel.size} reached the ledger; $slices slices staged"
    badEpochs.foreach(b => p += s"epoch $b: ledger dispositions != ${sliceSizes(b)} slice docs")
    if (dupDispositions != 0) p += s"$dupDispositions docs without exactly one disposition"
    if (slices == epochs) {
      val first = keptReference.getOrElse { keptReference = Some(keptHash); keptHash }
      if (keptHash != first) p += s"kept set $keptHash differs from this seed's first stream $first"
    }
    val survivors = Seq(CP.readKept(spark, st.kept, "doc_id"), spark.read.parquet(st.kept),
      CP.readLedger(spark, st.ledger.get, "doc_id"), spark.read.parquet(st.ledger.get))
      .map(_.join(erased, Seq("doc_id"), "left_semi").count()).sum
    if (survivors != 0) p += s"$survivors erased ids survive in kept or ledger"
    val exported = shards.map(_.getAs[Long]("n_docs")).sum
    val keptAfter = keptIds.count() - erased.count()
    if (exported != keptAfter) p += s"export packed $exported docs, kept holds $keptAfter"
    val problems = p.result()
    releaseBlocks(spark)
    rmrf(new File(root))
    val failedOps = if (problems.isEmpty) 0 else math.min(slices, math.max(1, badEpochs.size))
    Iteration(opMs, batches.map(sliceSizes).sum, wall, failedOps, problems,
      if (slices == epochs) keptHash else "")
  }
}
