package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Round-19 pins: core-count-invariant plan fingerprints, ParallelJobs
  * settle-all under interruption + job-property inheritance, the
  * ModelCache coherent derived-frame entries, and direct equivalence
  * specs for the r18 sign-once / cached-model serving seams (the
  * oracle gates the composed queries; these pin the seams on input
  * shapes the gated queries don't exercise). */
class Round19Spec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ------------- PlanFingerprint: partition counts & field elision

  test("PlanFingerprint: config-derived shuffle partition counts " +
      "normalize away; explicit repartition(n) counts do not") {
    // the shuffle partition count on ENSURE_REQUIREMENTS /
    // REPARTITION_BY_COL exchanges is spark.sql.shuffle.partitions —
    // a config (= cores in local mode), not plan shape: the driver
    // benches the same code at 32 and 8 cores and the r18 8-core run
    // reported 117 phantom plan changes
    val a = "Exchange hashpartitioning(chash#, 32), ENSURE_REQUIREMENTS, [plan_id=]"
    val b = "Exchange hashpartitioning(chash#, 8), ENSURE_REQUIREMENTS, [plan_id=]"
    assert(PlanFingerprint.normalize(a) == PlanFingerprint.normalize(b))
    val r1 = "Exchange rangepartitioning(id# ASC NULLS FIRST, 200), " +
      "ENSURE_REQUIREMENTS, [plan_id=]"
    val r2 = r1.replace(", 200)", ", 16)")
    assert(PlanFingerprint.normalize(r1) == PlanFingerprint.normalize(r2))
    val c1 = "Exchange hashpartitioning(tenant#, 32), REPARTITION_BY_COL, [plan_id=]"
    val c2 = c1.replace(", 32)", ", 8)")
    assert(PlanFingerprint.normalize(c1) == PlanFingerprint.normalize(c2))
    // a DIFFERENT key is still a real plan change
    val a2 = a.replace("chash#", "doc_id#")
    assert(PlanFingerprint.normalize(a) != PlanFingerprint.normalize(a2))
    // explicit counts normalize too — the library's explicit counts
    // are defaultParallelism-derived (Parallelism.spread), equally
    // core-dependent; the exchange's existence/keys/origin still hash
    val n1 = "Exchange RoundRobinPartitioning(5), REPARTITION_BY_NUM, [plan_id=]"
    val n2 = n1.replace("(5)", "(9)")
    assert(PlanFingerprint.normalize(n1) == PlanFingerprint.normalize(n2))
    val h1 = "Exchange hashpartitioning(doc_id#, 32), REPARTITION_BY_NUM, [plan_id=]"
    val h2 = h1.replace(", 32)", ", 8)")
    assert(PlanFingerprint.normalize(h1) == PlanFingerprint.normalize(h2))
    // ...but dropping the exchange, or re-keying it, still flips
    assert(PlanFingerprint.normalize(h1) !=
      PlanFingerprint.normalize(h1.replace("doc_id#", "chash#")))
  }

  test("PlanFingerprint: wide output-list elision is NOT collapsed — " +
      "a change in the surviving field names still flips the hash") {
    // the `... N more fields` elision cuts at a FIELD COUNT (stable
    // across sessions); the r18 any-bracket truncation rule erased the
    // surviving field names from the hash (ADVICE r18)
    val p1 = "Project [a#, b#, c#, ... 3 more fields]"
    val p2 = "Project [a#, b#, ZZ#, ... 3 more fields]"
    assert(PlanFingerprint.normalize(p1) != PlanFingerprint.normalize(p2))
    // scan-metadata truncation still collapses (cut point moves with
    // raw exprId digit widths) — anchored to the metadata keys
    val g1 = "FileScan parquet [doc_id#12,text#13] DataFilters: " +
      "[isnotnull(text#13), (octet_length(static_invoke(Encode.encode(" +
      "text#13, UTF-8..., Format: Parquet, " +
      "PushedFilters: [IsNotNull(text)], ReadSchema: struct<text:string>"
    val g2 = g1.replace("text#13, UTF-8...", "text#1333, UT...")
      .replace("text#13)", "text#1333)")
    assert(PlanFingerprint.normalize(g1) == PlanFingerprint.normalize(g2))
  }

  // ------------- ParallelJobs: settle-all, inheritance, interruption

  test("ParallelJobs: first failure rethrown only after every task " +
      "has settled") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      ParallelJobs.run(Seq(
        () => { Thread.sleep(30); throw new IllegalStateException("boom") },
        () => { Thread.sleep(300); slowDone.set(true) }))
    }
    assert(ex.getMessage == "boom")
    assert(slowDone.get, "slow task must settle before the rethrow — " +
      "cleanup behind the call must never race a still-running task")
  }

  test("ParallelJobs: pooled tasks inherit the caller's job group and " +
      "description") {
    val sc = spark.sparkContext
    sc.setJobGroup("r19-group", "r19 composite gate", false)
    try {
      val seen = ParallelJobs.map(Seq.fill(3)(() => (
        sc.getLocalProperty("spark.jobGroup.id"),
        sc.getLocalProperty("spark.job.description"))))
      assert(seen.forall(_ == ("r19-group", "r19 composite gate")),
        s"pooled tasks saw $seen — cancelJobGroup on the caller's " +
          "group would not reach their jobs")
    } finally sc.clearJobGroup()
  }

  test("ParallelJobs: caller interruption is deferred until every " +
      "task settles, then surfaces with the flag restored") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var thrown: Throwable = null
    @volatile var flagAtThrow = false
    val t = new Thread(() => {
      try ParallelJobs.run(Seq.fill(2)(() => {
        Thread.sleep(300); done.incrementAndGet(); ()
      }))
      catch { case e: Throwable =>
        thrown = e
        flagAtThrow = Thread.currentThread().isInterrupted
      }
    })
    t.start()
    Thread.sleep(50)
    t.interrupt()
    t.join(5000)
    assert(!t.isAlive)
    assert(done.get == 2, "both tasks must settle despite the interrupt")
    assert(thrown.isInstanceOf[InterruptedException])
    assert(flagAtThrow, "interrupt flag must be restored before rethrow")
  }

  test("ParallelJobs: an interrupted caller cancels its job group and " +
      "is not held forever by a hung task") {
    val sc = spark.sparkContext
    import Round19Spec.{hungJobStarted => jobStarted, hungJobRelease => release}
    @volatile var thrown: Throwable = null
    @volatile var flagAtThrow = false
    val t = new Thread(() => {
      sc.setJobGroup("r19-hung", "hung composite", interruptOnCancel = false)
      try ParallelJobs.run(Seq(
        // a Spark job that only ends when cancelled (or released)
        () => spark.range(0, 1, 1, 1).foreach { _ =>
          jobStarted.countDown()
          while (!release.get) Thread.sleep(20)
        },
        // a hang no cancel or interrupt reaches
        () => while (!release.get) {
          try Thread.sleep(20) catch { case _: InterruptedException => () }
        }))
      catch { case e: Throwable =>
        thrown = e
        flagAtThrow = Thread.currentThread().isInterrupted
      } finally sc.clearJobGroup()
    })
    try {
      t.start()
      assert(jobStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      t.interrupt()
      t.join(ParallelJobs.InterruptSettleMs + 20000L)
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(!t.isAlive, "the interrupted caller must return")
      assert(waitedMs >= ParallelJobs.InterruptSettleMs - 100L,
        s"returned after $waitedMs ms, before the settle bound")
      assert(thrown.isInstanceOf[InterruptedException], s"threw $thrown")
      assert(thrown.getMessage.contains("1 task(s) abandoned"), thrown.getMessage)
      assert(flagAtThrow, "interrupt flag must be restored before rethrow")
      assert(thrown.getSuppressed.exists(_.getMessage.contains("cancel")),
        "the Spark task must have failed through the job-group cancel: " +
          thrown.getSuppressed.map(_.getMessage).mkString("; "))
      assert(sc.statusTracker.getJobIdsForGroup("r19-hung")
        .forall(id => sc.statusTracker.getJobInfo(id).forall(
          _.status != org.apache.spark.JobExecutionStatus.RUNNING)))
    } finally release.set(true)
  }

  // ------------- ModelCache: coherent derived-frame entries

  test("ModelCache.cachedDerived: base and derived frames live under " +
      "one fingerprint — a store change refreshes both together") {
    import spark.implicits._
    val root = tmpDir("graft_r19_mc")
    BatchStore.append(Seq(("a", 1L)).toDF("k", "cnt"), root, 1L)
    val mc = new ModelCache
    var baseComputes = 0
    var deriveComputes = 0
    def serve() = mc.cachedDerived(spark, root, "t") {
      baseComputes += 1
      spark.read.parquet(root).groupBy("k").agg(sum("cnt").as("cnt"))
    } { b => deriveComputes += 1; Seq(b.agg(sum("cnt").as("total"))) }
    val (b1, d1) = serve()
    assert(baseComputes == 1 && deriveComputes == 1)
    assert(d1.head.collect().head.getLong(0) == 1L)
    val (b2, d2) = serve() // hit: same frames, no recompute
    assert(baseComputes == 1 && deriveComputes == 1)
    assert((b2 eq b1) && (d2.head eq d1.head))
    assert(mc.size == 1, "one entry covers base + derived")
    BatchStore.append(Seq(("a", 2L)).toDF("k", "cnt"), root, 2L)
    val (_, d3) = serve() // store changed: BOTH recompute together
    assert(baseComputes == 2 && deriveComputes == 2)
    assert(d3.head.collect().head.getLong(0) == 3L,
      "derived frame must be computed from the refreshed base")
    mc.releaseAll()
  }

  // ------------- sign-once / cached-model serving equivalence seams

  /** Docs where some rows cannot shingle (< shingleN tokens → null
    * MinHash): the input shape the r18 oracle gates never exercised
    * on the signed path. */
  private def dedupFixture(): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    def long(i: Int) = (0 until 10).map(t => s"w${i}t$t").mkString(" ")
    val history = (1 to 6).map(i => (i.toLong, long(i)))
      .toDF("id", "text")
    val batch = Seq(
      (101L, long(2)),            // exact dup of history doc 2
      (102L, long(3) + " w3t9b"), // near dup of history doc 3
      (103L, long(40)),           // fresh long doc
      (104L, "hi"),               // CANNOT shingle (1 token)
      (105L, "hi"),               // in-batch exact dup of 104
      (106L, "ok bye")            // cannot shingle either
    ).toDF("id", "text")
    (history, batch)
  }

  test("incrementalDedupFromStoreAtSigned == text-fed path on a batch " +
      "with non-shingleable rows") {
    val (history, batch) = dedupFixture()
    val (k, shingleN, bands, thr) = (4, 3, 2, 0.5)
    val root = tmpDir("graft_r19_sig")
    Dedup.writeSignatureStoreBanded(history, "id", "text", k, shingleN,
      bands, root, 1L)
    val text = Dedup.incrementalDedupFromStoreAt(spark, root, batch,
      "id", "text", k, shingleN, bands, thr)
    val signedFrame = Dedup.dedupSignatures(batch, "id", "text", k, shingleN)
    val signed = Dedup.incrementalDedupFromStoreAtSigned(spark, root,
      signedFrame, "id", k, bands, thr)
    val a = text.orderBy("id").collect().map(_.toSeq)
    val b = signed.orderBy("id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq,
      s"signed verdicts diverge from text-fed:\n${a.toSeq}\n${b.toSeq}")
    Checkpoints.releasePinned(signedFrame)
  }

  test("writeSignatureStoreBandedSigned == writeSignatureStoreBanded " +
      "store rows (shared bands pin + commit protocol)") {
    val (_, batch) = dedupFixture()
    val (k, shingleN, bands) = (4, 3, 2)
    val rootA = tmpDir("graft_r19_wa")
    val rootB = tmpDir("graft_r19_wb")
    Dedup.writeSignatureStoreBanded(batch, "id", "text", k, shingleN,
      bands, rootA, 1L)
    val signedFrame = Dedup.dedupSignatures(batch, "id", "text", k, shingleN)
    Dedup.writeSignatureStoreBandedSigned(signedFrame, "id", k, bands,
      rootB, 1L)
    val a = spark.read.parquet(rootA).orderBy("id").collect().map(_.toSeq)
    val b = spark.read.parquet(rootB).orderBy("id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    assert(BatchStore.readIntMetaOpt(spark, rootB, "_bands", "bands")
      .contains(bands), "signed writer must pin the band scheme too")
    Checkpoints.releasePinned(signedFrame)
  }

  test("writeTokenIndexSlices / writeTokenIndexInt8Slices == per-slice " +
      "writes: byte-identical store rows and sidecars present") {
    import spark.implicits._
    val passages = Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "alpha alpha zeta epsilon"), (4L, ""), (5L, "gamma beta"),
      (6L, "zeta")).toDF("pid", "text")
    def rowsOf(root: String): Seq[String] =
      spark.read.parquet(root).collect()
        .map(_.toSeq.map {
          case a: Seq[_] => a.mkString("[", ",", "]")
          case b: Array[Byte] => b.map("%02x".format(_)).mkString
          case x => String.valueOf(x)
        }.mkString("|")).sorted.toSeq
    val even = col("pid") % 2 === 0
    val odd = col("pid") % 2 === 1
    locally { // float index
      val rootA = tmpDir("graft_r19_tia")
      val rootB = tmpDir("graft_r19_tib")
      LateInteraction.writeTokenIndex(passages.filter(even), "pid", "text",
        8, rootA, 1L)
      LateInteraction.writeTokenIndex(passages.filter(odd), "pid", "text",
        8, rootA, 2L)
      LateInteraction.writeTokenIndexSlices(passages, "pid", "text", 8,
        rootB, Seq(1L -> even, 2L -> odd))
      assert(rowsOf(rootA) == rowsOf(rootB))
      Seq(1L, 2L).foreach(id => assert(
        BatchBlooms.path(rootB, id)
          .getFileSystem(spark.sessionState.newHadoopConf())
          .exists(BatchBlooms.path(rootB, id)),
        s"slice writer must commit batch $id's sidecar"))
    }
    locally { // int8 index
      val rootA = tmpDir("graft_r19_t8a")
      val rootB = tmpDir("graft_r19_t8b")
      LateInteraction.writeTokenIndexInt8(passages.filter(even), "pid",
        "text", 8, rootA, 1L)
      LateInteraction.writeTokenIndexInt8(passages.filter(odd), "pid",
        "text", 8, rootA, 2L)
      LateInteraction.writeTokenIndexInt8Slices(passages, "pid", "text", 8,
        rootB, Seq(1L -> even, 2L -> odd))
      assert(rowsOf(rootA) == rowsOf(rootB))
    }
  }

  test("classifyWith over cached model frames == classifyFromStore") {
    import spark.implicits._
    val root = tmpDir("graft_r19_q")
    val train = Seq(
      ("good", "alpha beta gamma delta"), ("good", "alpha beta epsilon"),
      ("bad", "zeta eta theta"), ("bad", "zeta eta iota kappa"))
      .toDF("label", "text")
    QualityClassifier.writeQualityStore(train, "label", "text", 64, root, 1L)
    val cand = Seq((1L, "alpha beta"), (2L, "zeta eta"), (3L, "nu xi"))
      .toDF("id", "text")
    val direct = QualityClassifier.classifyFromStore(spark, root, cand,
      "id", "text", 64)
    val mc = new ModelCache
    val (cb, derived) = mc.cachedDerived(spark, root, "q-b=64")(
      LanguageModel.mergedStoreCounts(spark, root, Seq("label", "bucket")))(
      b => Seq(QualityClassifier.classModel(b)))
    val cached = QualityClassifier.classifyWith(cand, cb, derived.head,
      "id", "text", 64)
    assert(direct.orderBy("id").collect().toSeq ==
      cached.orderBy("id").collect().toSeq)
    Seq(direct, cached).foreach(Checkpoints.releasePinned)
    mc.releaseAll()
  }

  test("lmThresholdFilterWith over cached model frames == " +
      "lmThresholdFilterFromStore") {
    import spark.implicits._
    val root = tmpDir("graft_r19_lm")
    val train = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"), (3L, "a cat and a dog"))
      .toDF("doc_id", "text")
    LanguageModel.writeLmStore(train, "doc_id", "text", root, 1L)
    val cand = Seq((10L, "the cat sat"), (11L, "rug dog the"),
      (12L, "qq zz pp"), (13L, "one")).toDF("id", "text")
    val cut = -3.0e9
    val direct = LanguageModel.lmThresholdFilterFromStore(spark, root,
      cand, "id", "text", cut)
    val mc = new ModelCache
    val (cb, derived) = mc.cachedDerived(spark, root, "lm-bigrams")(
      LanguageModel.mergedStoreCounts(spark, root, Seq("w1", "w2")))(
      b => Seq(LanguageModel.lmContextTotals(b), LanguageModel.lmVocabSize(b)))
    val cached = LanguageModel.lmThresholdFilterWith(cand, cb, derived(0),
      derived(1), "id", "text", cut)
    assert(direct.orderBy("id").collect().toSeq ==
      cached.orderBy("id").collect().toSeq)
    Seq(direct, cached).foreach(Checkpoints.releasePinned)
    mc.releaseAll()
  }
}

object Round19Spec {
  // signals shared with a Spark task: module fields, so the task's
  // closure reaches these instances rather than serialized copies
  val hungJobStarted = new java.util.concurrent.CountDownLatch(1)
  val hungJobRelease = new java.util.concurrent.atomic.AtomicBoolean(false)
}
