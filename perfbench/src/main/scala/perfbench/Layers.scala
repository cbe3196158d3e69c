package perfbench

/** Default input sizes. Chosen so one run — set-up three times, a
  * warm-up and the timed seconds — stays well inside the harness's
  * per-run budget on 4 cores; `--scale` multiplies them. */
object Sizes {
  /** RCM sources, as a multiple of the reference's row counts. */
  val nightlyScale = 0.5
  val curationDocs = 1200
  val curationEpochs = 3
}

/** The per-layer metric catalog and its values for one traced run.
  * Every name is printed on every workload; a span that does not run
  * on a workload reads 0. Span values are per iteration (summed over
  * the span's occurrences in it), median over the traced iterations. */
object Layers {

  /** Spans reported with the full set of counts. */
  val fullSpans: Seq[String] = Seq(
    "etl.extract", "etl.transform", "etl.scan_clean", "etl.dimensions",
    "operators.scd2", "etl.facts", "etl.validate", "etl.write",
    "operators.process_slice", "streaming.epoch_overhead", "operators.erase",
    "operators.pack_export", "analytics.kpi")
  val kpiQueries: Seq[String] = (1 to 11).map(i => s"analytics.q$i")
  val setupSpans: Seq[String] = Seq("setup.session", "setup.generate", "setup.prime",
    "setup.warmup")
  /** Spans that only traced iterations run, outside the operation. */
  def tracedOnly(span: String): Boolean =
    span == "etl.scan_clean" || span.startsWith("analytics.")

  private val fullFields: Seq[(String, String, String)] = Seq(
    ("wall_ms", "ms", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("task_ms", "ms", "lower"), ("shuffle_mb", "MB", "lower"), ("pinned_mb", "MB", "lower"),
    ("core_util", "ratio", "higher"))

  /** (name, unit, better) for every per-layer metric, in output order. */
  val catalog: Seq[(String, String, String)] =
    fullSpans.flatMap(s => fullFields.map { case (f, u, b) => (s"$s.$f", u, b) }) ++
    Seq(("analytics.kpi.plan_ms", "ms", "lower"), ("analytics.kpi.exec_ms", "ms", "lower")) ++
    kpiQueries.flatMap(q => Seq((s"$q.wall_ms", "ms", "lower"), (s"$q.jobs", "count", "lower"))) ++
    setupSpans.map(s => (s"$s.wall_ms", "ms", "lower")) ++
    Seq(("iteration.gc_ms", "ms", "lower"), ("iteration.spill_mb", "MB", "lower"),
      ("iteration.peak_heap_mb", "MB", "lower"), ("iteration.peak_storage_mb", "MB", "lower"),
      ("trace.overhead_ratio", "ratio", "lower"))

  def metrics(spans: Seq[Span], layerMs: Seq[Map[String, Double]], cores: Int,
      setup: Map[String, Double], gcMs: Double, peakHeapMb: Double, peakStorageMb: Double,
      overhead: Double): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    val iterations = spans.map(_.iteration).filter(_ > 0).distinct
    // span name -> per-iteration (wall, counts); analytics.kpi sums the 11 queries
    def perIteration(matches: String => Boolean): Seq[(Double, Counts)] =
      iterations.map { i =>
        val c = new Counts
        val in = spans.filter(s => s.iteration == i && matches(s.name))
        in.foreach(s => c.add(s.counts))
        (in.map(_.wallMs).sum, c)
      }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val values = scala.collection.mutable.Map[String, Double]()
    fullSpans.foreach { s =>
      val it = perIteration(if (s == "analytics.kpi") kpiQueries.contains else _ == s)
      values(s"$s.wall_ms") = med(it.map(_._1))
      values(s"$s.jobs") = med(it.map(_._2.jobs.toDouble))
      values(s"$s.tasks") = med(it.map(_._2.tasks.toDouble))
      values(s"$s.task_ms") = med(it.map(_._2.taskMs.toDouble))
      values(s"$s.shuffle_mb") = med(it.map(_._2.shuffleBytes / mb))
      values(s"$s.pinned_mb") = med(it.map(_._2.pinnedBytes / mb))
      values(s"$s.core_util") = med(it.filter(_._1 > 0).map(x => x._2.taskMs / (x._1 * cores)))
    }
    Seq("analytics.kpi.plan_ms", "analytics.kpi.exec_ms").foreach { k =>
      values(k) = med(layerMs.flatMap(_.get(k)))
    }
    kpiQueries.foreach { q =>
      val it = perIteration(_ == q)
      values(s"$q.wall_ms") = med(it.map(_._1))
      values(s"$q.jobs") = med(it.map(_._2.jobs.toDouble))
    }
    setupSpans.foreach(s => values(s"$s.wall_ms") = setup(s))
    values("iteration.gc_ms") = gcMs
    values("iteration.spill_mb") = med(perIteration(!tracedOnly(_)).map(_._2.spillBytes / mb))
    values("iteration.peak_heap_mb") = peakHeapMb
    values("iteration.peak_storage_mb") = peakStorageMb
    values("trace.overhead_ratio") = overhead
    catalog.map { case (n, u, _) => (n, values(n), u) }
  }
}
