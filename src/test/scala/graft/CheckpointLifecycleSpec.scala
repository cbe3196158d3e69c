package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the checkpoint lifecycle contract: operators that localCheckpoint
  * internally (Dedup's signature barriers, SurrogateKeys.sequentialKeys, ScdType2)
  * pin executor storage blocks that `spark.catalog.clearCache()` does NOT
  * free — only GC + ContextCleaner (eventually) or an explicit unpersist
  * does. A long-lived session (the bench, a notebook, a service) that
  * calls these operators repeatedly must release consumed blocks between
  * calls or storage memory fills with dead block sets. This spec proves
  * the documented release pattern ([[Bench.releaseBlocks]]) keeps the
  * persistent-RDD count flat across repeated runs of the heaviest
  * checkpoint user (q30: one LSH barrier per call) and the SCD2 path
  * (q20: three checkpoints per call).
  */
class CheckpointLifecycleSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  private val sf = "/root/testdata/sf0.001"

  private def persistentCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("repeated q30 runs stay block-stable under releaseBlocks") {
    val counts = (1 to 10).map { _ =>
      SparkEntry.queries("q30_minhash_lsh")(spark, sf).count()
      val during = persistentCount
      Bench.releaseBlocks(spark)
      (during, persistentCount)
    }
    // the operator really does pin blocks (the test exercises something)
    assert(counts.exists(_._1 > 0), s"q30 never checkpointed: $counts")
    // after every release, nothing stays registered
    assert(counts.forall(_._2 == 0), s"blocks leaked past release: $counts")
  }

  test("repeated SCD2 incremental runs stay block-stable under releaseBlocks") {
    val counts = (1 to 5).map { _ =>
      SparkEntry.queries("q20_scd2_incremental")(spark, sf).count()
      val during = persistentCount
      Bench.releaseBlocks(spark)
      (during, persistentCount)
    }
    assert(counts.exists(_._1 > 0), s"q20 never checkpointed: $counts")
    assert(counts.forall(_._2 == 0), s"blocks leaked past release: $counts")
  }

  test("writeSignatureStore releases its signing barrier when it returns") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sig_pin").toString
    val docs = (1L to 20L).map(i => (i, s"alpha beta gamma delta tok$i"))
      .toDF("doc_id", "text")
    // id-set delta, not a count (the ContextCleaner drops dead pins async)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    operators.Dedup.writeSignatureStore(docs, "doc_id", "text", k = 8,
      shingleN = 3, root = root, batchId = 1L)
    val left = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }.values.map(_.toString)
    assert(left.isEmpty, s"the signature writer left pins: $left")
  }

  test("connectedComponents releases edges and superseded rounds itself") {
    import spark.implicits._
    Bench.releaseBlocks(spark)
    // a 12-node chain needs several propagation rounds: without the
    // in-loop release this would pin edges + one label set per round
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = operators.Dedup.connectedComponents(chain)
    assert(out.count() == 12)
    // only the FINAL labels checkpoint may remain pinned (the caller
    // releases that one, per the Checkpoints contract)
    assert(persistentCount == 1,
      s"expected only the final labels frame pinned, got $persistentCount")
    Bench.releaseBlocks(spark)
    assert(persistentCount == 0)
  }

  test("LM scorers retain only their result checkpoint per call; releasing the results drops to zero") {
    import spark.implicits._
    Bench.releaseBlocks(spark)
    val train = (1L to 30L).map(i =>
      (i, if (i % 2 == 0) "aa" else "bb",
        s"tok${i % 5} tok${(i + 1) % 5} tok${(i + 2) % 5}"))
      .toDF("doc_id", "lang", "text")
    val cand = (100L to 109L).map(i =>
      (i, s"tok${i % 5} tok${(i + 3) % 5} tok${(i + 1) % 5}"))
      .toDF("doc_id", "text")
    (1 to 3).foreach { _ =>
      // each scorer pins its counts frame internally and must release
      // it before returning — a daily-batch service accumulates only
      // the (k-row / candidate-sized) results, which it releases here
      val bi = operators.LanguageModel.bigramCounts(train, "doc_id", "text")
      val results = Seq(
        operators.LanguageModel.bigramLmScore(cand, bi, "doc_id", "text", 5),
        operators.LanguageModel.stupidBackoffScore(cand, bi, "doc_id", "text", 5),
        operators.LanguageModel.trigramBackoffScore(cand,
          operators.LanguageModel.trigramCounts(train, "doc_id", "text"),
          bi, "doc_id", "text", 5),
        operators.LanguageModel.classifyLangByTrigrams(cand,
          operators.LanguageModel.langTrigramCounts(train, "lang", "text"),
          "doc_id", "text"))
      assert(persistentCount == results.size,
        s"scorers must pin exactly one result each, got $persistentCount")
      results.foreach(operators.Checkpoints.releasePinned)
      assert(persistentCount == 0,
        s"releasing the results must drop the registry to zero, got $persistentCount")
    }
  }

  // Deliberately NOT tested: "without release the count grows". Whether
  // dead checkpoints linger depends on when driver GC feeds the
  // ContextCleaner's reference queue — a correct implementation can
  // legitimately show either outcome on any given run. The stable
  // property is the contract above: explicit release always drops the
  // registry to zero, immediately.
}
