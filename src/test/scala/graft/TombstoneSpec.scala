package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BatchStore, InvertedIndex}

/** Round-11: document DELETES in the served posting store — tombstone
  * masking, exact negative-stats accounting (zero-token docs
  * included), the physical purge, and the crash/race windows of both.
  */
class TombstoneSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(root: String): Unit =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)

  private def fs(root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private val terms = Seq("spark", "join")

  /** 30 docs; terms in most, a zero-token doc at id 3. */
  private def corpus = {
    import spark.implicits._
    (1L to 30L).map { i =>
      val t =
        if (i == 3L) "   " // zero tokens: stats must still count it
        else if (i % 3 == 0) s"spark join extra$i pad${i % 5}"
        else if (i % 3 == 1) s"spark join join filler$i"
        else s"noise$i pad${i % 5}"
      (i, t)
    }.toDF("doc_id", "text")
  }

  private def served(root: String) =
    InvertedIndex.bm25SearchFromStore(spark, root, "doc_id", terms, k = 10)
      .collect().toSeq

  test("delete masks served BM25 immediately and stats track the remaining corpus exactly — zero-token doc included") {
    val root = tmp("graft_tomb_mask")
    val docs = corpus
    InvertedIndex.writePostingStore(
      docs.filter(col("doc_id") <= 15), "doc_id", "text", root, 1L)
    InvertedIndex.writePostingStore(
      docs.filter(col("doc_id") > 15), "doc_id", "text", root, 2L)
    // delete a term-bearing doc, a non-matching doc, AND the
    // zero-token doc — the one whose length no posting row records
    val del = docs.filter(col("doc_id").isin(3L, 6L, 5L))
    InvertedIndex.deleteFromPostingStore(del, "doc_id", "text", root, 3L)
    val kept = docs.filter(!col("doc_id").isin(3L, 6L, 5L))
    val expect = InvertedIndex
      .bm25Search(kept, "doc_id", "text", terms, k = 10).collect().toSeq
    val got = served(root)
    assert(got == expect,
      s"served-with-tombstones must equal the scan of the remaining corpus\n got    $got\n expect $expect")
    assert(!got.exists(_.getLong(0) == 6L), "deleted doc 6 still served")
    // stats: 27 remaining docs; doc 3 contributed (1, 0) and is gone
    val st = InvertedIndex.postingStoreStats(spark, root)
      .collect().head
    val keptLen = kept.select(
      coalesce(sum(size(graft.operators.TextFunctions.tokens(col("text"))))
        .cast("long"), lit(0L))).collect().head.getLong(0)
    assert(st.getLong(0) == 27L && st.getLong(1) == keptLen,
      s"stats must sum to the remaining corpus, got $st expected (27, $keptLen)")
    rm(root)
  }

  test("purge physically drops tombstoned rows, retires the tombstones, and serving is unchanged") {
    val root = tmp("graft_tomb_purge")
    val docs = corpus
    InvertedIndex.writePostingStore(docs, "doc_id", "text", root, 1L)
    InvertedIndex.deleteFromPostingStore(
      docs.filter(col("doc_id").isin(6L, 9L)), "doc_id", "text", root, 2L)
    val before = served(root)
    assert(InvertedIndex.purgeTombstones(spark, root, "doc_id", 3L) == 1)
    // physical: the raw store (no masking) has no trace of 6 or 9
    val raw = BatchStore.read(spark, root)
      .filter(col("doc_id").isin(6L, 9L)).count()
    assert(raw == 0, s"purge left $raw posting rows for deleted docs")
    // tombstones retired, parent dir gone with them
    assert(!fs(root).exists(
      new org.apache.hadoop.fs.Path(root, ".tombstones")),
      "applied tombstones must be retired by the purge")
    assert(served(root) == before,
      "purge changed served results — masking and rewrite disagree")
    // idempotent: nothing left to purge
    assert(InvertedIndex.purgeTombstones(spark, root, "doc_id", 4L) == 0)
    rm(root)
  }

  test("a delete racing the purge keeps its tombstone and stays masked") {
    val root = tmp("graft_tomb_race")
    val docs = corpus
    InvertedIndex.writePostingStore(docs, "doc_id", "text", root, 1L)
    InvertedIndex.deleteFromPostingStore(
      docs.filter(col("doc_id") === 6L), "doc_id", "text", root, 2L)
    // the racer commits doc 9's delete after the purged merge is staged
    InvertedIndex.purgeTombstones(spark, root, "doc_id", 3L,
      onBeforeCommit = () => InvertedIndex.deleteFromPostingStore(
        docs.filter(col("doc_id") === 9L), "doc_id", "text", root, 4L))
    // the racer's tombstone batch survived the purge's retirement...
    assert(fs(root).exists(new org.apache.hadoop.fs.Path(
      root, ".tombstones/batch=4")),
      "racing delete's tombstone was retired without being applied")
    // ...and both deletes are invisible to a reader
    val ids = served(root).map(_.getLong(0)).toSet
    assert(!ids.contains(6L) && !ids.contains(9L),
      s"deleted docs resurfaced after a racing purge: $ids")
    rm(root)
  }

  test("IVF-PQ deletes: mask equals an index built from the remaining vectors; purge keeps the list-partitioned layout") {
    import spark.implicits._
    import graft.operators.Similarity
    // 40 deterministic vectors, dim 8, m 2; coarse = first 2 vectors
    val e = (1L to 40L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toDouble - 6.0))
    }.toDF("vec_id", "embedding")
    val coarse = e.filter(col("vec_id") <= 2)
    val seeds = e.filter(col("vec_id") > 2 && col("vec_id") <= 6)
    val rcb = Similarity.ivfPqResidualCodebook(e, coarse, seeds,
      "vec_id", "embedding", dim = 8, m = 2, trainIters = 1)
      .localCheckpoint()
    val queries = e.filter(col("vec_id") <= 3)
    def serve(root: String) = Similarity.ivfPqTopKFromStore(spark, root,
        queries, coarse, rcb, "vec_id", "embedding",
        dim = 8, m = 2, nProbe = 2, k = 5)
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    // full index + delete odds
    val root = tmp("graft_ivfpq_tomb")
    Similarity.writeIvfPqIndex(e, coarse, rcb,
      "vec_id", "embedding", 8, 2, root, 1L)
    Similarity.deleteFromIvfPqIndex(
      e.filter(col("vec_id") % 2 === 1).select(col("vec_id")),
      "vec_id", root, 2L)
    // truth: an index that never saw the odd vectors
    val evenRoot = tmp("graft_ivfpq_even")
    Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 2 === 0), coarse,
      rcb, "vec_id", "embedding", 8, 2, evenRoot, 1L)
    val masked = serve(root)
    assert(masked == serve(evenRoot),
      "masked serving must equal an index of the remaining vectors")
    assert(Similarity.purgeIvfPqIndex(spark, root, "vec_id", 3L) == 1)
    assert(serve(root) == masked, "purge changed served results")
    // physical: no odd ids anywhere; layout still list-partitioned
    assert(BatchStore.read(spark, root)
      .filter(col("vec_id") % 2 === 1).count() == 0)
    val batchDir = new org.apache.hadoop.fs.Path(root, "batch=3")
    val listDirs = fs(root).listStatus(batchDir)
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(listDirs.nonEmpty && listDirs.forall(_.startsWith("list_id=")),
      s"purge lost the list-partitioned layout: ${listDirs.toSeq}")
    assert(!fs(root).exists(
      new org.apache.hadoop.fs.Path(root, ".tombstones")))
    Seq(root, evenRoot).foreach(rm)
  }

  test("the tombstone mask preserves the pushed term filter beneath the anti-join") {
    val root = tmp("graft_tomb_push")
    val docs = corpus
    InvertedIndex.writePostingStore(docs, "doc_id", "text", root, 1L)
    InvertedIndex.deleteFromPostingStore(
      docs.filter(col("doc_id") === 6L), "doc_id", "text", root, 2L)
    // the serve's tf construction, pre-checkpoint (bm25Rank's barrier
    // would hide the scan): filter, THEN mask — the anti-join must
    // not block the In(token,…) pushdown that makes the index an index
    val tf = InvertedIndex.applyTombstones(spark, root,
      BatchStore.read(spark, root).filter(col("token").isin(terms: _*)),
      "doc_id")
    val plan = tf.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(token"),
      s"term filter must stay pushed under the tombstone mask:\n$plan")
    rm(root)
  }

  test("signature-store erasure: content identical to an erased doc is admitted again") {
    import spark.implicits._
    import graft.operators.Dedup
    val hist = (1L to 10L).map(i =>
      (i, s"unique$i words for doc $i only here"))
      .toDF("doc_id", "text")
    // the day's batch carries an exact copy of history doc 5's text
    val batch = Seq((100L, "unique5 words for doc 5 only here"))
      .toDF("doc_id", "text")
    val root = tmp("graft_sig_erase")
    Dedup.writeSignatureStore(hist, "doc_id", "text",
      k = 16, shingleN = 3, root = root, batchId = 1L)
    def verdict() = Dedup.incrementalDedupFromStore(
        Dedup.readSignatureStore(spark, root, "doc_id"), batch,
        "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getBoolean(1), r.getLong(2))).head
    assert(verdict() == ((true, 1L)),
      "the copy must be suppressed while doc 5's signatures live")
    Dedup.deleteFromSignatureStore(
      Seq(5L).toDF("doc_id"), "doc_id", root, batchId = 2L)
    assert(verdict() == ((false, 0L)),
      "erasure must stop suppressing against the erased content")
    Dedup.purgeSignatureStore(spark, root, "doc_id", 3L)
    assert(verdict() == ((false, 0L)), "purge changed the verdict")
    assert(Dedup.readSignatureStore(spark, root)
      .filter(col("doc_id") === 5L).count() == 0,
      "purge left doc 5's signatures on disk")
    rm(root)
  }

  test("crash window (tombstone committed, stats row not): the doc is already masked; the heal is the missing stats row") {
    val root = tmp("graft_tomb_crash")
    val docs = corpus
    InvertedIndex.writePostingStore(docs, "doc_id", "text", root, 1L)
    InvertedIndex.deleteFromPostingStore(
      docs.filter(col("doc_id") === 6L), "doc_id", "text", root, 2L)
    // simulate the crash-before-stats by removing the delete's
    // negative sidecar row (layout contract: root/.stats/batch=<id>)
    assert(fs(root).delete(
      new org.apache.hadoop.fs.Path(root, ".stats/batch=2"), true))
    // the erasure is EFFECTIVE: doc 6 never serves in the window
    assert(!served(root).exists(_.getLong(0) == 6L),
      "crash window must not serve the tombstoned doc")
    // the drift is confined to stats (still counting the deleted doc)
    val st = InvertedIndex.postingStoreStats(spark, root).collect().head
    assert(st.getLong(0) == 30L,
      s"window stats should still count all 30 docs, got ${st.getLong(0)}")
    rm(root)
  }
}
