package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LateInteraction, TextFunctions}

/** Round-13: ColBERT-style MaxSim re-ranking — the signal DIRECTION
  * (a passage containing the query's tokens must outrank a
  * token-disjoint passage), the per-position accounting, duplicate
  * handling on both sides, and the checkpoint lifecycle. The exact
  * fixed-point arithmetic is oracle-gated (q197).
  */
class LateInteractionSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  test("tokenVector: subword grams give multi-component vectors; equals the explicit gram fold") {
    import spark.implicits._
    val df = Seq(("apple"), ("a"), ("banana")).toDF("tok")
    val got = df.select(col("tok"),
        TextFunctions.tokenVector(col("tok"), 8).as("tv"),
        TextFunctions.hashEmbedGrams(transform(
          sequence(lit(1), length(concat(lit("<"), col("tok"), lit(">"))) - 2),
          i => concat(lit("<"), col("tok"), lit(">")).substr(i, lit(3))), 8)
          .as("ref"))
      .as[(String, Seq[Double], Seq[Double])].collect()
    got.foreach { case (tok, tv, ref) =>
      assert(tv.length == 8 && tv == ref, s"$tok: $tv vs $ref")
    }
    // 'apple' has 5 grams over 8 slots — expect >1 non-zero component
    // with overwhelming probability for this fixed token (pinned)
    val apple = got.find(_._1 == "apple").get._2
    assert(apple.count(_ != 0.0) > 1, s"expected multi-component, got $apple")
  }

  test("a passage containing the query's tokens outranks a token-disjoint passage") {
    import spark.implicits._
    val queries = Seq((1L, "apple banana cherry date")).toDF("query_id", "text")
    val passages = Seq(
      (10L, "apple banana cherry date extra tokens here"),
      (11L, "zzq wqx yyk nnm qqv ppb"),
      (12L, "apple banana unrelated filler words")).toDF("neighbor_id", "text")
    val cands = passages.select(lit(1L).as("query_id"), col("neighbor_id"))
    val res = LateInteraction.maxSimRerank(cands, queries, passages,
      "query_id", "neighbor_id", "text", dim = 16, maxQueryTokens = 16, k = 3)
    val got = res.select(col("rank"), col("neighbor_id"), col("n_qtoks"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    graft.operators.Checkpoints.releasePinned(res)
    assert(got.map(_._2) == Seq(10L, 12L, 11L),
      s"expected full-match > partial-match > disjoint, got $got")
    // every query position embeds (4 tokens, all non-empty)
    assert(got.forall(_._3 == 4L), s"n_qtoks must be 4 for all pairs: $got")
  }

  test("duplicate query tokens count per position; duplicate passage tokens collapse; k truncates; pins released") {
    import spark.implicits._
    val queries = Seq((1L, "apple apple")).toDF("query_id", "text")
    val passages = Seq(
      (10L, "apple apple apple"),
      (11L, "apple")).toDF("neighbor_id", "text")
    val cands = passages.select(lit(1L).as("query_id"), col("neighbor_id"))
    // id-set delta, not a count: the ContextCleaner may async-drop a
    // dead pin from an earlier test between captures (count flake)
    def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinnedIds
    val res = LateInteraction.maxSimRerank(cands, queries, passages,
      "query_id", "neighbor_id", "text", dim = 16, maxQueryTokens = 16, k = 2)
    val got = res.select(col("neighbor_id"), col("n_qtoks"), col("ms_fp"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert((pinnedIds -- before).size == 1,
      "after a call, only the returned frame may be pinned")
    graft.operators.Checkpoints.releasePinned(res)
    assert((pinnedIds -- before).isEmpty, "each call must release every internal pin")
    // both positions of the duplicated query token score, and the
    // passage's duplicate occurrences change nothing: both passages
    // offer the same best match per position
    assert(got.map(_._2) == Seq(2L, 2L), s"2 query positions each: $got")
    assert(got(0)._3 == got(1)._3,
      s"passage-side duplicates must not change MaxSim: $got")
    val res1 = LateInteraction.maxSimRerank(cands, queries, passages,
      "query_id", "neighbor_id", "text", dim = 16, maxQueryTokens = 16, k = 1)
    assert(res1.count() == 1L, "k must truncate per query")
    graft.operators.Checkpoints.releasePinned(res1)
  }

  test("token index: FromStore serve equals in-memory scoring; erasure masks and re-ranks; purge is value-identical") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ti_spec").toString
    val queries = Seq((1L, "apple banana cherry")).toDF("query_id", "text")
    val passages = Seq(
      (10L, "apple banana cherry exact"),
      (11L, "apple banana close match"),
      (12L, "apple only here"),
      (13L, "zzq wqx yyk")).toDF("neighbor_id", "text")
    val cands = passages.select(lit(1L).as("query_id"), col("neighbor_id"))
    LateInteraction.writeTokenIndex(passages.filter(col("neighbor_id") % 2 === 0),
      "neighbor_id", "text", dim = 16, root, batchId = 1L)
    LateInteraction.writeTokenIndex(passages.filter(col("neighbor_id") % 2 === 1),
      "neighbor_id", "text", dim = 16, root, batchId = 2L)
    def fromStore() = LateInteraction.maxSimFromTokenIndex(spark, root,
      cands, queries, "query_id", "neighbor_id", "text",
      dim = 16, maxQueryTokens = 16, k = 4)
    val mem = LateInteraction.maxSimRerank(cands, queries, passages,
      "query_id", "neighbor_id", "text", dim = 16, maxQueryTokens = 16, k = 4)
    val served = fromStore()
    assert(served.collect().toSeq == mem.collect().toSeq,
      "the persisted index must serve the in-memory ranking exactly")
    // erase the top passage: it vanishes, the survivors re-rank
    LateInteraction.deleteFromTokenIndex(Seq(10L).toDF("neighbor_id"),
      "neighbor_id", root, batchId = 3L)
    val masked = fromStore()
    val maskedRows = masked.select(col("rank"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(!maskedRows.exists(_._2 == 10L), s"erased passage served: $maskedRows")
    assert(maskedRows.map(_._1) == Seq(1L, 2L, 3L),
      s"survivors must re-rank densely: $maskedRows")
    // purge: physical rewrite, value-identical serve
    val replaced = LateInteraction.purgeTokenIndex(spark, root,
      "neighbor_id", newBatchId = 4L)
    assert(replaced == 2, s"expected 2 batches replaced, got $replaced")
    val purged = fromStore()
    assert(purged.collect().toSeq == masked.collect().toSeq,
      "purge must not change the served ranking")
    assert(graft.operators.Tombstones.batches(spark, root).isEmpty,
      "applied tombstones must be retired")
    Seq(mem, served, masked, purged)
      .foreach(graft.operators.Checkpoints.releasePinned)
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("token index: serving scans ONLY the candidates' bucket partitions; pruned serve reads fewer store records than a full scan") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ti_prune").toString
    // 40 passages spread over 4 buckets; 2 batches
    val passages = (0L until 40L)
      .map(i => (i, s"tok$i alpha beta gamma")).toDF("neighbor_id", "text")
    LateInteraction.writeTokenIndex(passages.filter(col("neighbor_id") < 20),
      "neighbor_id", "text", dim = 8, root, batchId = 1L, buckets = 4)
    LateInteraction.writeTokenIndex(passages.filter(col("neighbor_id") >= 20),
      "neighbor_id", "text", dim = 8, root, batchId = 2L, buckets = 4)
    val queries = Seq((1L, "alpha beta")).toDF("query_id", "text")
    // two candidate passages → at most 2 distinct buckets
    val cands = Seq((1L, 3L), (1L, 7L)).toDF("query_id", "neighbor_id")
    val candBuckets = cands
      .select(pmod(xxhash64(col("neighbor_id")), lit(4L))).distinct().count()
    def serve() = LateInteraction.maxSimFromTokenIndex(spark, root,
      cands, queries, "query_id", "neighbor_id", "text",
      dim = 8, maxQueryTokens = 16, k = 2)
    // the pruning pin, on the serve's store-read path pre-checkpoint
    // (the served frame itself is a checkpoint block scan): the store
    // scan opens at most (batches × candidate-buckets) partition
    // dirs, not all 8
    val candIds = cands.select(col("neighbor_id")).distinct()
    val pruned0 = LateInteraction.prunedStoreRead(spark, root,
      candIds, "neighbor_id")
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    }.flatten
    val scan = scansOf(pruned0.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("graft_ti_prune")))
    assert(scan.isDefined, "expected a parquet scan of the token index store")
    val parts = scan.get.selectedPartitions.partitionCount
    assert(parts <= 2 * candBuckets && parts < 8,
      s"2 candidates in $candBuckets buckets × 2 batches must open " +
        s"at most ${2 * candBuckets} of 8 partitions, opened $parts")
    val served = serve()
    // measured: the pruned serve reads strictly fewer records than
    // the same serve forced to a full store scan (meta file removed —
    // the legacy-flat fallback path)
    val (s1, pruned) = Metrics.capture(spark) { serve() }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root, "_buckets"), false)
    val (s2, full) = Metrics.capture(spark) { serve() }
    assert(pruned.inputRecords < full.inputRecords,
      s"pruned serve must read fewer records: ${pruned.inputRecords} " +
        s"vs full-scan ${full.inputRecords}")
    Seq(served, s1, s2).foreach(graft.operators.Checkpoints.releasePinned)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("token index: appending bucketed batches to a legacy FLAT store fails fast instead of mixing layouts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ti_flat").toString
    // a pre-bucketing store: batch dirs, no __pb partitioning, no meta
    val flat = Seq((1L, Seq(1.0, 0.0), 1.0))
      .toDF("neighbor_id", "__dv", "__dn")
    graft.operators.BatchStore.append(flat, root, batchId = 1L)
    val e = intercept[IllegalArgumentException] {
      LateInteraction.writeTokenIndex(
        Seq((2L, "a b")).toDF("neighbor_id", "text"),
        "neighbor_id", "text", 8, root, batchId = 2L, buckets = 4)
    }
    assert(e.getMessage.contains("no _buckets meta"), e.getMessage)
    // the legacy store still reads whole — no half-committed layout
    assert(graft.operators.BatchStore.read(spark, root).count() == 1L)
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("pruned serve hashes candidate ids at the STORE's id dtype — int-typed candidates still hit long-keyed buckets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ti_dtype").toString
    val passages = (0L until 16L)
      .map(i => (i, s"tok$i alpha")).toDF("neighbor_id", "text")
    LateInteraction.writeTokenIndex(passages, "neighbor_id", "text",
      dim = 8, root, batchId = 1L, buckets = 4)
    // candidates with INT ids: xxhash64(int) != xxhash64(long), so an
    // uncast bucket computation would open the wrong dirs and lose rows
    val candIdsInt = Seq(3, 7).toDF("neighbor_id")
    val got = LateInteraction.prunedStoreRead(spark, root,
        candIdsInt, "neighbor_id")
      .select(col("neighbor_id")).distinct()
      .as[Long].collect().toSet
    assert(Set(3L, 7L).subsetOf(got),
      s"int-typed candidates must reach their passages' buckets, got $got")
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("token index: appends with a mismatched bucket count fail fast") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ti_meta").toString
    val p = Seq((1L, "a b")).toDF("neighbor_id", "text")
    LateInteraction.writeTokenIndex(p, "neighbor_id", "text", 8, root,
      batchId = 1L, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      LateInteraction.writeTokenIndex(p, "neighbor_id", "text", 8, root,
        batchId = 2L, buckets = 8)
    }
    assert(e.getMessage.contains("buckets=4"), e.getMessage)
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("tokenIndexSink: epoch replay is a no-op") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ti_sink").toString
    val b0 = Seq((1L, "a b c"), (2L, "a a")).toDF("neighbor_id", "text")
    val b1 = Seq((3L, "c d")).toDF("neighbor_id", "text")
    val sink = LateInteraction.tokenIndexSink("neighbor_id", "text", 8, root)
    sink(b0, 0L); sink(b1, 1L)
    def stored() = graft.operators.BatchStore.read(spark, root)
      .orderBy(col("batch"), col("neighbor_id"), col("__dn"))
      .collect().toSeq
    val s0 = stored()
    assert(s0.nonEmpty)
    sink(b0, 0L); sink(b1, 1L)
    assert(stored() == s0, "epoch replay must be a no-op")
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("maxQueryTokens bounds the scored window") {
    import spark.implicits._
    val queries = Seq((1L, "apple banana cherry")).toDF("query_id", "text")
    val passages = Seq((10L, "apple banana cherry")).toDF("neighbor_id", "text")
    val cands = passages.select(lit(1L).as("query_id"), col("neighbor_id"))
    val res = LateInteraction.maxSimRerank(cands, queries, passages,
      "query_id", "neighbor_id", "text", dim = 16, maxQueryTokens = 2, k = 1)
    val n = res.select(col("n_qtoks")).head.getLong(0)
    graft.operators.Checkpoints.releasePinned(res)
    assert(n == 2L, s"only the first 2 query positions may score, got $n")
  }

  test("int8 token index commits fewer bytes than the float64 index over the same chunked corpus") {
    // the q204 storage claim (SCALE.md "Quantized token index: measured
    // storage": 24,838 vs 39,292 B at sf0.01) — parquet encoding moves
    // both sides, so it is pinned by measured committed bytes
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val passages = graft.operators.Chunking
      .chunkByTokens(docs, "doc_id", "text", 64, 48)
      .select((col("doc_id") * lit(1048576L) + col("chunk_id"))
        .as("neighbor_id"), col("chunk_text").as("text"))
    val f64 = java.nio.file.Files.createTempDirectory("graft_ti_f64").toString
    val i8 = java.nio.file.Files.createTempDirectory("graft_ti_i8").toString
    LateInteraction.writeTokenIndex(passages, "neighbor_id", "text",
      dim = 16, f64, batchId = 1L)
    LateInteraction.writeTokenIndexInt8(passages, "neighbor_id", "text",
      dim = 16, i8, batchId = 1L)
    val Seq(bf, bi) = Seq(f64, i8).map { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      try fs.getContentSummary(p).getLength finally fs.delete(p, true)
    }
    assert(bi < bf, s"int8 index $bi B must be smaller than float64 $bf B")
  }
}
