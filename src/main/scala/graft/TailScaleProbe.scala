package graft

/** Reproducible driver behind SCALE.md's scale-shape tables: times a
  * comma-listed subset of [[SparkEntry.queries]] against each
  * directory argument — one untimed warmup per (query, dir), then
  * median of 3 timed runs, each started after [[Bench.isolate]]'s
  * blocking block-release + GC (the same discipline the bench uses,
  * so these numbers are comparable to BENCH artifacts).
  *
  * `runMain graft.TailScaleProbe <q1,q2,...> <dir1> [dir2 ...]`
  * prints one line per pair:
  * `SCALE <dir> <query> <median> s  [runs]  gc_ms=[..] pinned_rdds=<n> pinned_mb=<mb>`.
  * `gc_ms` is each timed run's own GC time (listed in the order of
  * `[runs]`), read after `isolate`'s forced GC so that collection is
  * not billed to the query; `pinned_rdds`/`pinned_mb` are the
  * persistent RDDs (and their memory + disk MB) the last run left
  * behind — pins that outlive a query show up here, not later as GC
  * pressure.
  */
object TailScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TailScaleProbe <q1,q2,...> <dir1> [dir2 ...]")
    val names = args(0).split(",").toSeq
    val dirs = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    dirs.foreach { dir =>
      names.foreach { n =>
        // (wall seconds, GC ms) of one run
        def run(): (Double, Long) = {
          Bench.isolate(spark)
          val (g0, t0) = (Bench.gcMs(), System.nanoTime())
          SparkEntry.queries(n)(spark, dir).count()
          ((System.nanoTime() - t0) / 1e9, Bench.gcMs() - g0)
        }
        run() // warmup: JIT + planner, untimed
        val runs = (1 to 3).map(_ => run()).sortBy(_._1)
        val pinned = spark.sparkContext.getRDDStorageInfo
        val pinnedMb = pinned.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024)
        println(f"SCALE $dir $n ${runs(1)._1}%.3f s  " +
          runs.map(r => f"${r._1}%.3f").mkString("[", ",", "]") +
          runs.map(_._2).mkString("  gc_ms=[", ",", "]") +
          f" pinned_rdds=${pinned.length} pinned_mb=$pinnedMb%.1f")
      }
    }
    spark.stop()
  }
}
