package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DataSelection

/** Round-13: DSIR-style importance-weighted selection — the signal
  * DIRECTION (candidates resembling the target must outrank
  * candidates that don't — the property that makes the operator a
  * data selector rather than a number generator), the feature count
  * arithmetic, and the checkpoint lifecycle. The exact fixed-point
  * weight arithmetic is oracle-gated (q195).
  */
class DataSelectionSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  test("candidates drawn from the target distribution outrank disjoint-vocabulary candidates") {
    import spark.implicits._
    // target: in-domain prose over one vocabulary
    val target = (1L to 20L).map { i =>
      (i, s"the quick fox jumps over the lazy dog ${i % 3}")
    }.toDF("doc_id", "text")
    // candidates: 5 in-domain, 5 from a disjoint vocabulary
    val cand = ((101L to 105L).map(i =>
        (i, s"the quick dog jumps over the lazy fox ${i % 3}")) ++
      (201L to 205L).map(i =>
        (i, s"zzq${i} wqx yyk zzp qqv nnm ${i % 3}"))).toDF("doc_id", "text")
    val res = DataSelection.dsirTopK(cand, target, "doc_id", "text",
      buckets = 512, k = 10)
    val got = res.select(col("doc_id")).as[Long].collect().toSeq
    graft.operators.Checkpoints.releasePinned(res)
    assert(got.size == 10)
    // the ranking is descending by mean importance: all 5 in-domain
    // docs must come before every disjoint-vocab doc
    assert(got.take(5).forall(_ <= 105L),
      s"in-domain candidates must rank first, got $got")
    assert(got.drop(5).forall(_ >= 201L),
      s"disjoint-vocab candidates must rank last, got $got")
  }

  test("an EMPTY target distribution scores with uniform add-one weights, never NULLs") {
    import spark.implicits._
    val target = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val cand = Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text")
    val res = DataSelection.dsirTopK(cand, target, "doc_id", "text",
      buckets = 64, k = 10)
    val got = res.select(col("doc_id"), col("dsir_fp"), col("dsir_avg"))
      .collect().toSeq
    graft.operators.Checkpoints.releasePinned(res)
    // nt coalesces to 0: every bucket smooths to t+1 = 1, nt+B = B —
    // weights are defined (uniform in the target term), scores non-null
    assert(got.size == 2, s"both docs must score, got $got")
    assert(got.forall(r => !r.isNullAt(1) && !r.isNullAt(2)),
      s"empty target must yield defined scores, got $got")
  }

  test("n_feats counts unigram + bigram OCCURRENCES (2n-1); zero-token docs are absent; k truncates") {
    import spark.implicits._
    val target = Seq((1L, "a b c")).toDF("doc_id", "text")
    val cand = Seq(
      (10L, "a b c d"), // 4 tokens -> 4 + 3 = 7 features
      (11L, "a"),       // 1 token  -> 1 + 0 = 1 feature
      (12L, "   "))     // 0 tokens -> absent
      .toDF("doc_id", "text")
    val res = DataSelection.dsirTopK(cand, target, "doc_id", "text",
      buckets = 64, k = 10)
    val got = res.select(col("doc_id"), col("n_feats"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    graft.operators.Checkpoints.releasePinned(res)
    assert(got == Seq((10L, 7L), (11L, 1L)),
      s"expected occurrence counts (7, 1) and doc 12 absent, got $got")
    val res1 = DataSelection.dsirTopK(cand, target, "doc_id", "text",
      buckets = 64, k = 1)
    val k1 = res1.count()
    graft.operators.Checkpoints.releasePinned(res1)
    assert(k1 == 1L, "k must truncate the ranking")
  }

  test("plan shape: weights join broadcasts, top-k is TakeOrdered, no sort-merge anywhere") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"tok${i % 9} tok${(i + 2) % 9}"))
      .toDF("doc_id", "text")
    val scored = graft.operators.DataSelection.dsirScored(
      docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", buckets = 128, k = 10)
    val p = scored.queryExecution.executedPlan.toString
    graft.operators.Checkpoints.releasePinned(scored)
    // the B-row weights frame broadcasts into per-doc scoring — the
    // candidate side never shuffles for the join
    assert(p.contains("BroadcastHashJoin"), p)
    // top-k never plans a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("target store of per-slice deltas selects identically to single-shot; double-delete fails at compaction") {
    import spark.implicits._
    val docs = (1L to 80L).map { i =>
      (i, s"tok${i % 13} tok${(i + 4) % 13} tok${(i + 7) % 5}")
    }.toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 4 === 0)
    val cand = docs.filter(col("doc_id") % 4 =!= 0)
    val root = java.nio.file.Files.createTempDirectory("graft_dsir_store").toString
    DataSelection.writeDsirTargetStore(
      target.filter(col("doc_id") % 8 === 0), "doc_id", "text", 256, root, 1L)
    DataSelection.writeDsirTargetStore(
      target.filter(col("doc_id") % 8 =!= 0), "doc_id", "text", 256, root, 2L)
    DataSelection.deleteFromDsirTargetStore(
      target.filter(col("doc_id") % 3 === 0), "doc_id", "text", 256, root, 3L)
    val remaining = target.filter(col("doc_id") % 3 =!= 0)
    val direct = DataSelection.dsirTopK(cand, remaining, "doc_id", "text", 256, 10)
    val served = DataSelection.dsirTopKFromStore(spark, root, cand,
      "doc_id", "text", 256, 10)
    assert(served.collect().toSeq == direct.collect().toSeq,
      "store-served selection must equal retraining on the remaining target")
    DataSelection.compactDsirStore(spark, root, 4L)
    val compacted = DataSelection.dsirTopKFromStore(spark, root, cand,
      "doc_id", "text", 256, 10)
    assert(compacted.collect().toSeq == direct.collect().toSeq,
      "compaction must not change served selection")
    // contract violation: the same docs erased AGAIN
    DataSelection.deleteFromDsirTargetStore(
      target.filter(col("doc_id") % 3 === 0), "doc_id", "text", 256, root, 5L)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val ex = intercept[Exception] {
      DataSelection.compactDsirStore(spark, root, 6L)
    }
    assert(messages(ex).exists(_.contains("negative net count")),
      s"compaction must name the contract violation, got: $ex")
    Seq(direct, served, compacted)
      .foreach(graft.operators.Checkpoints.releasePinned)
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("dsirStoreSink: epoch replay is a no-op; the streamed store selects like single-shot fitting") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dsir_sink").toString
    val b0 = Seq((2L, "alpha beta gamma"), (4L, "alpha beta")).toDF("doc_id", "text")
    val b1 = Seq((6L, "beta gamma delta")).toDF("doc_id", "text")
    val sink = DataSelection.dsirStoreSink("doc_id", "text", 128, root)
    sink(b0, 0L); sink(b1, 1L)
    def stored() = graft.operators.BatchStore.read(spark, root)
      .orderBy(col("batch"), col("bucket")).collect().toSeq
    val s0 = stored()
    sink(b0, 0L); sink(b1, 1L)
    assert(stored() == s0, "epoch replay must be a no-op")
    val cand = Seq((11L, "alpha beta gamma"), (13L, "zz qq ww")).toDF("doc_id", "text")
    val served = DataSelection.dsirTopKFromStore(spark, root, cand,
      "doc_id", "text", 128, 5)
    val direct = DataSelection.dsirTopK(cand, b0.union(b1),
      "doc_id", "text", 128, 5)
    assert(served.collect().toSeq == direct.collect().toSeq,
      "streamed store must select like single-shot fitting")
    Seq(served, direct).foreach(graft.operators.Checkpoints.releasePinned)
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("selection is deterministic and leaks no checkpoint pins") {
    import spark.implicits._
    val docs = (1L to 60L).map { i =>
      (i, s"tok${i % 11} tok${(i + 3) % 11} tok${(i + 5) % 7} t${i % 2}")
    }.toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 6 === 0)
    val cand = docs.filter(col("doc_id") % 6 =!= 0)
    // exact pin accounting per call: every frame this suite created is
    // strongly referenced until released, so the ContextCleaner can't
    // shift the counts under us
    // id-set delta, not a count: the ContextCleaner may async-drop a
    // dead pin from an earlier test between captures (count flake)
    def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinnedIds
    val a = DataSelection.dsirTopK(cand, target, "doc_id", "text", 256, 10)
    val rowsA = a.collect().toSeq
    assert((pinnedIds -- before).size == 1,
      "after a call, only the returned frame may be pinned")
    val b = DataSelection.dsirTopK(cand, target, "doc_id", "text", 256, 10)
    val rowsB = b.collect().toSeq
    assert(rowsA == rowsB, "same inputs must select the same docs")
    graft.operators.Checkpoints.releasePinned(a)
    graft.operators.Checkpoints.releasePinned(b)
    assert((pinnedIds -- before).isEmpty,
      "each call must release every internal pin (only the returned frame was live)")
  }
}
