package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one process, one client
  * thread in a closed loop.
  *
  * {{{
  * perfbench.Main --workload <rcm_nightly|curation_stream>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --records <dir>
  *   [--scale <x>] [--corrupt]
  * }}}
  *
  * Set-up (input generation + priming) runs [[SetupReps]] times, then
  * one warm-up iteration. Timed iterations follow until `--seconds`
  * have passed. With `--trace 1` untraced and traced iterations
  * alternate, and the last line carries the per-layer metrics instead
  * of the end-to-end ones. The last line of stdout is the result JSON;
  * the line before it is the run record, also written under
  * `--records`.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, work: String = "", records: String = "",
      scale: Double = 1.0, corrupt: Boolean = false)

  /** Set-up repetitions per run; `setup_s` takes their median. */
  val SetupReps = 3

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--records" :: v :: t => parse(t, o.copy(records = v))
    case "--scale" :: v :: t => parse(t, o.copy(scale = v.toDouble))
    case "--corrupt" :: t => parse(t, o.copy(corrupt = true))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def workload(o: Opts, spark: SparkSession): Workload = o.workload match {
    case "rcm_nightly" => new RcmNightly(spark, o.seed, Sizes.nightlyScale * o.scale, o.corrupt)
    case "curation_stream" => new CurationStream(spark, o.seed,
      math.max(200, (Sizes.curationDocs * o.scale).toInt), Sizes.curationEpochs, o.corrupt)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.work.nonEmpty && o.records.nonEmpty, "--work and --records are required")
    val load0 = loadAvg
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = Workload.elapsedMs(t0)
    val exit = try { run(o, spark, cores, sessionMs, load0); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    finally spark.stop()
    sys.exit(exit)
  }

  private def run(o: Opts, spark: SparkSession, cores: Int, sessionMs: Double,
      load0: Double): Unit = {
    val wl = workload(o, spark)
    wl.hashOutputs = o.trace
    val probe = new ResourceProbe
    val off = new Tracer(spark, enabled = false)
    val on = if (o.trace) new Tracer(spark, enabled = true) else off

    // set-up, repeated; the last repetition's state is what the
    // iterations start from
    val generateMs, primeMs = ArrayBuffer[Double]()
    val dir = s"${o.work}/data"
    (1 to SetupReps).foreach { _ =>
      Workload.rmrf(new File(dir))
      var t = System.nanoTime()
      wl.generate(dir)
      generateMs += Workload.elapsedMs(t)
      t = System.nanoTime()
      wl.prime(dir)
      primeMs += Workload.elapsedMs(t)
    }
    val tw = System.nanoTime()
    val warm = runIteration(wl, off, warmup = true)
    val warmupMs = Workload.elapsedMs(tw)
    val setupMs = sessionMs + Stats.median(generateMs.zip(primeMs).map(p => p._1 + p._2).toSeq) +
      warmupMs

    final case class Measured(it: Iteration, traced: Boolean, heap: Long, storage: Long,
        gcMs: Long)
    val measured = ArrayBuffer[Measured]()
    val tm = System.nanoTime()
    def more = Workload.elapsedMs(tm) < o.seconds * 1000.0 ||
      measured.count(!_.traced) < wl.minIterations || (o.trace && !measured.exists(_.traced))
    var crashed = false
    while (more && !crashed) {
      val traced = o.trace && measured.nonEmpty && !measured.last.traced
      val tracer = if (traced) on else off
      // a collection between iterations (outside every timed region and
      // outside gc_ms) so each starts from the same heap and block store
      System.gc()
      probe.reset()
      val gc0 = probe.gcMs
      tracer.beginIteration()
      val it = try runIteration(wl, tracer) finally tracer.endIteration()
      measured += Measured(it, traced, probe.peakHeapBytes, probe.peakStorageBytes,
        probe.gcMs - gc0)
      crashed = it.outputHash == Crashed
    }
    probe.stop()

    val all = warm +: measured.map(_.it).toSeq
    val problems = ArrayBuffer[String]()
    all.foreach(problems ++= _.problems)
    // the warm-up may be a smaller iteration; its output is not compared
    val hashes = measured.map(_.it.outputHash).distinct.toSeq
    if (o.trace && hashes.size > 1)
      problems += s"traced and untraced iterations disagree on their output: ${hashes.mkString(" / ")}"
    val attempted = all.map(_.opMs.size max 1).sum
    val failed = math.min(attempted,
      all.map(_.failedOps).sum + (if (o.trace && hashes.size > 1) 1 else 0))

    val timed = measured.filterNot(_.traced).toSeq
    val ops = timed.flatMap(_.it.opMs)
    val mb = 1024.0 * 1024.0
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupMs / 1000.0, "s"),
      ("op_p50_ms", Stats.median(ops), "ms"),
      ("rows_per_s", timed.map(_.it.units).sum / (timed.map(_.it.wallMs).sum / 1000.0), "rows/s"))

    val metrics: Seq[(String, Double, String)] = if (!o.trace) endToEnd else {
      val traced = measured.filter(_.traced).toSeq
      val untraced = timed.map(m => m.it.wallMs)
      val tracedWall = traced.map(m => m.it.wallMs - m.it.tracedOnlyMs)
      val setup = Map("setup.session" -> sessionMs, "setup.generate" -> Stats.median(generateMs.toSeq),
        "setup.prime" -> Stats.median(primeMs.toSeq), "setup.warmup" -> warmupMs)
      // resources of the operation itself: the untraced iterations, which
      // run neither the listener nor the traced-only spans
      Layers.metrics(on.spans, traced.map(_.it.layerMs), cores, setup,
        gcMs = Stats.median(timed.map(_.gcMs.toDouble)),
        peakHeapMb = Stats.median(timed.map(_.heap / mb)),
        peakStorageMb = Stats.median(timed.map(_.storage / mb)),
        overhead = Stats.median(tracedWall) / Stats.median(untraced))
    }

    val record = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "corrupt" -> o.corrupt,
      "command" -> (s"python3 perfbench/run.py --workload ${o.workload} --seed ${o.seed} " +
        s"--seconds ${o.seconds} --trace ${if (o.trace) 1 else 0}"),
      "nproc" -> cores, "load_avg_before" -> load0, "load_avg_after" -> loadAvg,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / mb,
      "storage_memory_mb" -> PerfbenchAccess.maxStorageMemory / mb,
      "spark_version" -> spark.version,
      "inputs" -> wl.inputs,
      "setup_reps_ms" -> generateMs.zip(primeMs).map(p => Seq(p._1, p._2)).toSeq,
      "warmup_ms" -> warmupMs,
      "timed_ops" -> ops.size,
      "peak_heap_mb" -> timed.map(_.heap / mb),
      "peak_storage_mb" -> timed.map(_.storage / mb),
      "iterations" -> measured.map(m => Map("traced" -> m.traced, "wall_ms" -> m.it.wallMs,
        "ops" -> m.it.opMs.size, "failed_ops" -> m.it.failedOps)).toSeq,
      "output_hashes" -> hashes,
      "problems" -> problems.toSeq,
      "end_to_end" -> endToEnd.map(m => m._1 -> Map("value" -> m._2, "unit" -> m._3)).toMap,
      "spans" -> on.spans.map(s => Map("name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent.getOrElse(""), "iteration" -> s.iteration,
        "wall_ms" -> s.wallMs, "jobs" -> s.counts.jobs, "tasks" -> s.counts.tasks,
        "task_ms" -> s.counts.taskMs, "shuffle_bytes" -> s.counts.shuffleBytes,
        "pinned_bytes" -> s.counts.pinnedBytes)))
    new File(o.records).mkdirs()
    val out = new PrintWriter(new File(o.records,
      s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"))
    try out.println(record) finally out.close()
    problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))

    println(s"perfbench-record $record")
    println(Json.obj("correct" -> (failed == 0 && problems.isEmpty), "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map(m => m._1 -> Map("value" -> m._2, "unit" -> m._3)).toMap))
  }

  /** Runs one iteration; an exception is one failed operation. */
  private def runIteration(wl: Workload, tracer: Tracer, warmup: Boolean = false): Iteration =
    try if (warmup) wl.warmup(tracer) else wl.iteration(tracer)
    catch {
      case e: Exception =>
        e.printStackTrace()
        Iteration(Seq.empty, 0, 0.0, 1, Seq(s"exception: $e"), Crashed)
    }
  private val Crashed = "crashed"
}

object Stats {
  /** Median; NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON writer for the record and the result line. */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
      .map { case (k, x) => value(k) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case x => value(x.toString)
  }
}
