package graft.operators

/** Bounded CONCURRENT execution of independent Spark actions — the
  * spark_optimization_guide §2.6 discipline ("overlap independent
  * jobs"): Spark's scheduler happily runs several jobs at once inside
  * one application; composite operations that build/erase/purge many
  * INDEPENDENT stores were calling their actions sequentially, so
  * each job's straggler tail left the executors idle. Submitting them
  * from a small pool lets the next job's tasks back-fill the tail —
  * on a cluster exactly as in local mode (FIFO scheduling gives the
  * earlier job priority; later jobs use what is left).
  *
  * Contract: tasks must be INDEPENDENT (no task reads state another
  * writes — distinct store roots, or distinct batch ids under the
  * commit-protocol stores whose staging/rename/meta commits are
  * race-hardened) and individually atomic-or-retryable. Results come
  * back in input order; the FIRST failure is rethrown after every
  * task has settled (so cleanup code behind the call never races a
  * still-running task).
  *
  * The pool is small and per-call: 2-4 jobs in flight fills the
  * straggler tail without thrashing the scheduler (guide §2.6 — "2-3
  * jobs in flight is plenty"). */
private[graft] object ParallelJobs {

  /** Default jobs-in-flight bound. */
  val DefaultParallelism: Int = 4

  /** Spark job-scoped thread-local properties a pooled task must
    * inherit from the CALLER (as it inherits the caller's
    * [[Checkpoints]] scope, so its pins belong to the caller's unit of
    * work): the job group (so a composite gate's
    * concurrent jobs cancel as a unit — `cancelJobGroup` on the
    * caller's group must reach jobs submitted from pool threads; guide
    * §1.5 notes the thread-local pitfall) and the job description
    * (so the UI/profiler attributes pooled jobs to the stage that
    * spawned them, not to a bare pool-thread name). */
  private val inheritedKeys = Seq(
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** How long an interrupted caller keeps awaiting its tasks after it
    * cancelled their jobs. A task still running then is abandoned (it
    * is interrupted, and its daemon thread cannot keep the JVM up). */
  val InterruptSettleMs: Long = 10000L

  /** Run `tasks` concurrently (bounded), return results in input
    * order. Sequential fast path for 0/1 tasks.
    *
    * Settle-all: the first failure is recorded and rethrown only after
    * every future has resolved, so cleanup code behind the call never
    * races a still-running task.
    *
    * A caller-thread interrupt cancels and then settles: on the first
    * InterruptedException the caller's job group, which every task
    * inherited, is cancelled, so the tasks' Spark jobs fail promptly;
    * the caller then awaits the tasks for at most [[InterruptSettleMs]]
    * and throws an InterruptedException with its interrupt flag
    * restored (a task failure, usually the cancellation itself, rides
    * along as a suppressed exception). The cancel keeps a long job from
    * holding an interrupted caller; the bound keeps a hung task from
    * holding it forever. */
  def map[T](tasks: Seq[() => T],
      parallelism: Int = DefaultParallelism): Seq[T] = {
    require(parallelism >= 1, s"need parallelism >= 1, got $parallelism")
    if (tasks.size <= 1 || parallelism == 1) return tasks.map(_())
    val context = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val callerProps: Seq[(String, String)] = context.toSeq.flatMap { sc =>
      inheritedKeys.flatMap(k => Option(sc.getLocalProperty(k)).map(k -> _))
    }
    val callerScope = Checkpoints.current
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, tasks.size),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    try {
      val futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = {
            // explicit (not inheritance-dependent): pool threads are
            // created lazily at first submit, so InheritableThreadLocal
            // snapshots are an accident of submission order — set the
            // caller's job group/description and pin scope on every task
            org.apache.spark.sql.SparkSession.getActiveSession
              .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
              .map(_.sparkContext).foreach { sc =>
                callerProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
              }
            Checkpoints.within(callerScope)(t())
          }
        }))
      var err: Throwable = null
      var deadline: Option[Long] = None // set by the first interrupt
      var abandoned = 0
      val out = futures.map { f =>
        var res: Option[T] = None
        var settled = false
        while (!settled) {
          try {
            res = Some(deadline match {
              case None => f.get()
              case Some(d) => f.get(math.max(0L, d - System.nanoTime()),
                java.util.concurrent.TimeUnit.NANOSECONDS)
            })
            settled = true
          } catch {
            case e: java.util.concurrent.ExecutionException =>
              if (err == null) err = e.getCause
              settled = true
            case _: java.util.concurrent.TimeoutException =>
              abandoned += 1
              settled = true
            case _: InterruptedException if deadline.isEmpty =>
              deadline = Some(System.nanoTime() + InterruptSettleMs * 1000000L)
              for (sc <- context; (k, group) <- callerProps if k == "spark.jobGroup.id")
                sc.cancelJobGroup(group)
            case _: InterruptedException => () // the deadline already runs
          }
        }
        res
      }
      if (deadline.isDefined) {
        Thread.currentThread().interrupt()
        val e = new InterruptedException(
          if (abandoned == 0) "interrupted while awaiting parallel jobs (all tasks settled)"
          else s"interrupted while awaiting parallel jobs ($abandoned task(s) abandoned " +
            s"unsettled after ${InterruptSettleMs} ms)")
        if (err != null) e.addSuppressed(err)
        throw e
      }
      if (err != null) throw err
      out.map(_.get)
    } finally pool.shutdownNow()
  }

  /** [[map]] for side-effecting actions. */
  def run(tasks: Seq[() => Unit],
      parallelism: Int = DefaultParallelism): Unit = {
    map(tasks, parallelism)
    ()
  }
}
