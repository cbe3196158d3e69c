package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextFunctions

/** Round-9 operators: the single-pass hashEmbed encoder and the
  * scale-safe embedding near-dup composition.
  */
class Round9OpsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------- hashEmbed

  test("hashEmbed single-pass fold is value-identical to the per-dim spelling") {
    // Bit-identity matters, not approximation: the q130/q131 oracles
    // hash-compare downstream cosine doubles, so the rewrite must not
    // move a single ULP. Equality is exact (===), on every component,
    // over real corpus text plus adversarial edge shapes.
    import spark.implicits._
    val edge = Seq("", "   ", "one", "a b c d e f g h i j k l m",
      "dup dup dup dup", "\ttabs\tand\nnewlines  mixed éü")
      .toDF("text")
    val corpus = Tables.documents(spark, sf).select(col("text")).limit(200)
      .union(edge)
    for (dim <- Seq(1, 8, 64)) {
      val mismatch = corpus
        .select(TextFunctions.hashEmbed(col("text"), dim).as("fast"),
          TextFunctions.hashEmbedPerDim(col("text"), dim).as("ref"))
        .filter(!(col("fast") === col("ref")))
        .count()
      assert(mismatch == 0, s"dim=$dim: fold differs from per-dim spelling")
    }
  }

  test("hashEmbed components are the slot-sum of token weights (hand check)") {
    import spark.implicits._
    // Independent hand computation from the driver-side hash twin:
    // slot = hash60(t) mod dim, weight = (hash60("1:"+t) mod 2001 -
    // 1000)/1000, summed in token order.
    val text = "alpha beta gamma alpha delta"
    val dim = 4
    val expected = Array.fill(dim)(0.0)
    text.split("\\s+").foreach { t =>
      val slot = java.lang.Math.floorMod(
        graft.operators.Similarity.hash60Const(t), dim.toLong).toInt
      val w = (java.lang.Math.floorMod(
        graft.operators.Similarity.hash60Const(s"1:$t"), 2001L) - 1000L) / 1000.0
      expected(slot) += w
    }
    val got = Seq(text).toDF("text")
      .select(TextFunctions.hashEmbed(col("text"), dim).as("emb"))
      .head().getSeq[Double](0)
    assert(got == expected.toSeq, s"got $got expected ${expected.toSeq}")
  }

  // ------------------------------------- semanticDedup skew cap

  test("semanticDedup cap: hot-cluster pair volume is bounded, verdicts are a subset") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    // Adversarial hot cluster: a single centroid, so EVERY vector lands
    // in one cluster — the uncapped pair stage is exactly n(n-1)/2.
    val hot = e.filter(col("vec_id") === 0)
    val cap = 8
    val uncapped = Similarity.semanticDedup(e, hot, "vec_id", "embedding", 0.2)
    val capped = Similarity.semanticDedup(e, hot, "vec_id", "embedding", 0.2,
      maxClusterSize = cap)

    // verdict frame shape: one row per vector either way
    assert(uncapped.count() == n && capped.count() == n)
    // the recall trade goes ONE direction: capping can only MISS pairs,
    // so every capped drop must also be an uncapped drop
    val extra = capped.filter(col("dropped")).select("vec_id")
      .join(uncapped.filter(col("dropped")).select("vec_id"),
        Seq("vec_id"), "left_anti").count()
    assert(extra == 0, s"capped run dropped $extra vectors the uncapped run kept")
    // and the cap must actually bite on a hot cluster
    assert(capped.filter(col("dropped")).count() <
      uncapped.filter(col("dropped")).count())

    // pair-volume bound, via the operator's own deterministic cell
    // rule (subs = ceil(size/cap), sub = hash60(id) mod subs): no cell
    // exceeds ~3× the cap (hash variance headroom), so Σ|cell|² is
    // O(n·cap) instead of the uncapped n².
    val subs = math.ceil(n.toDouble / cap).toLong
    val cells = e.select(pmod(TextFunctions.hash60(col("vec_id").cast("string")),
        lit(subs)).as("sub"))
      .groupBy("sub").count()
    val maxCell = cells.agg(max("count")).head().getLong(0)
    assert(maxCell <= 3L * cap, s"hot-cluster cell of $maxCell rows under cap $cap")
    val pairSum = cells.agg(sum(col("count") * col("count"))).head().getLong(0)
    assert(pairSum < n * n / 4, s"Σ|cell|²=$pairSum not « n²=${n * n}")
  }

  test("semanticDedup cap leaves under-cap clusters exactly uncapped (q123 semantics)") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
    val cents = e.filter(col("vec_id") < 8)
    val base = Similarity.semanticDedup(e, cents, "vec_id", "embedding", 0.35)
    // cap far above any real cluster size: identical verdict frame
    val wide = Similarity.semanticDedup(e, cents, "vec_id", "embedding", 0.35,
      maxClusterSize = 1000000)
    assert(base.exceptAll(wide).count() == 0 && wide.exceptAll(base).count() == 0)
  }

  // ------------------------------- persisted signature store (q128 path)

  test("incremental dedup from the persisted signature store ≡ recompute-from-text") {
    import graft.operators.{Dedup, TextFunctions}
    val docs = Tables.documents(spark, sf)
    val isBatch =
      pmod(TextFunctions.hash60(col("doc_id").cast("string")), lit(10L)) < 1
    val history = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val root = java.nio.file.Files.createTempDirectory("graft_sigstore").toString

    Dedup.writeSignatureStore(history, "doc_id", "text",
      k = 16, shingleN = 3, root = root, batchId = 1L)
    val store = Dedup.readSignatureStore(spark, root)
    val fromStore = Dedup.incrementalDedupFromStore(store, batch,
      "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
    val recompute = Dedup.incrementalDedup(history, batch,
      "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
    assert(fromStore.exceptAll(recompute).count() == 0 &&
      recompute.exceptAll(fromStore).count() == 0,
      "store-based verdicts differ from recompute-from-text")

    // daily append: the batch's own signatures extend the store, so
    // tomorrow's run sees history ∪ batch without rewriting history
    Dedup.writeSignatureStore(batch, "doc_id", "text",
      k = 16, shingleN = 3, root = root, batchId = 2L)
    assert(Dedup.readSignatureStore(spark, root).count() == docs.count())
    // short docs keep their exact-dup digest in the store (mh null)
    val storeAll = Dedup.readSignatureStore(spark, root)
    assert(storeAll.filter(col("chash").isNull).count() == 0)

    // a committed batch id cannot be silently re-appended
    intercept[IllegalArgumentException] {
      Dedup.writeSignatureStore(batch, "doc_id", "text",
        k = 16, shingleN = 3, root = root, batchId = 2L)
    }
  }

  // the signature store's staging vacuum is BatchStore.vacuumStaging
  test("vacuumSignatureStaging removes crashed stagings, never committed batches") {
    import graft.operators.{BatchStore, Dedup}
    val docs = Tables.documents(spark, sf).limit(50)
    val root = java.nio.file.Files.createTempDirectory("graft_vac").toString
    Dedup.writeSignatureStore(docs, "doc_id", "text", 16, 3, root, 1L)
    // simulate two crashed writes: orphaned staging dirs with content
    for (i <- 1 to 2) {
      val d = new java.io.File(root, s".staging-99-dead$i"); d.mkdirs()
      java.nio.file.Files.writeString(d.toPath.resolve("part-0.parquet"), "x")
    }
    val before = Dedup.readSignatureStore(spark, root).count()
    assert(BatchStore.vacuumStaging(spark, root) == 2)
    assert(BatchStore.vacuumStaging(spark, root) == 0) // idempotent
    assert(Dedup.readSignatureStore(spark, root).count() == before)
    assert(new java.io.File(root, "batch=1").isDirectory)
  }

  test("incrementalDedupFromStore rejects a frame that is not a signature store") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    intercept[IllegalArgumentException] {
      Dedup.incrementalDedupFromStore(docs.select(col("doc_id")), docs,
        "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
    }
  }

  // ----------------------- checkpoint-recovery gates (q132/q133)

  test("q132/q133: kill + restart from checkpoint is invisible in the result") {
    // The restarted gates must equal their one-shot streamed twins
    // row-for-row: recovery that lost state would re-emit deduped keys
    // / renumber sessions; recovery that replayed committed batches
    // would double-emit into the exactly-once file sink.
    val sf01 = "/root/testdata/sf0.01"
    for ((restarted, oneShot) <- Seq(
        "q132_dedup_restarted" -> "q122_streamed_dedup",
        "q133_sessionize_restarted" -> "q124_sessionize_streamed")) {
      val a = SparkEntry.queries(restarted)(spark, sf01)
      val b = SparkEntry.queries(oneShot)(spark, sf01)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$restarted differs from $oneShot")
    }
  }

  test("the restart kill point is load-bearing: state straddles the phase cut") {
    // If no dedup key occurred on both sides of the cut and no session
    // spanned it, q132/q133 would pass even with recovery broken. The
    // default time-third cut DOES fall in quiet air at sf0.01 (zero
    // straddling keys — measured), which is exactly why the gates use
    // the data-derived stateStraddlingCut; pin that at THAT cut both
    // state kinds genuinely span the kill.
    import org.apache.spark.sql.expressions.Window
    val sf01 = "/root/testdata/sf0.01"
    val cutOpt = graft.queries.WindowQueries.stateStraddlingCut(spark, sf01)
    assert(cutOpt.isDefined, "no intra-session same-key pair in the slice")
    val cut = cutOpt.get
    val ev = Tables.events(spark, sf01).filter(col("user_id") < 40)

    val straddlingKeys = ev
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"),
        (unix_micros(col("ts")) < cut).as("before"))
      .groupBy("user_id", "event_type", "day")
      .agg(countDistinct(col("before")).as("sides"))
      .filter(col("sides") === 2).count()
    assert(straddlingKeys > 0,
      "no dedup key spans the kill point — q132 would pass without state recovery")

    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val spanningSessions = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull &&
        unix_micros(col("ts")) - col("prev_us") <= 1800L * 1000000L &&
        col("prev_us") < cut && unix_micros(col("ts")) >= cut)
      .count()
    assert(spanningSessions > 0,
      "no session spans the kill point — q133 would pass without state recovery")
  }

  // ------------------------------------ inverted index + term search

  test("inverted index + AND search hand-check on a constructed corpus") {
    import spark.implicits._
    import graft.operators.InvertedIndex
    val docs = Seq((1L, "a b a c"), (2L, "b b d"), (3L, "a d d b"))
      .toDF("doc_id", "text")
    val idx = InvertedIndex.build(docs, "doc_id", "text", headK = 2)
      .orderBy("token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(idx.toSeq == Seq(
      ("a", 2L, 3L, "1_3"),
      ("b", 3L, 4L, "1_2"),
      ("c", 1L, 1L, "1"),
      ("d", 2L, 3L, "2_3")), idx.toSeq)

    val hits = InvertedIndex.andSearch(docs, "doc_id", "text",
      terms = Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 2 has no 'a' and must not appear; scores are total matched
    // occurrences (doc 1: a,b,a = 3; doc 3: a,b = 2)
    assert(hits.toSeq == Seq((1L, 3L), (3L, 2L)), hits.toSeq)
  }

  test("posting heads stay capped however hot the token") {
    import spark.implicits._
    import graft.operators.InvertedIndex
    // one stopword-like token in every doc: the head must cap at K ids
    val docs = (1 to 500).map(i => (i.toLong, s"the w$i")).toDF("doc_id", "text")
    val head = InvertedIndex.build(docs, "doc_id", "text", headK = 8)
      .filter(col("token") === "the").head()
    assert(head.getLong(1) == 500L && head.getLong(2) == 500L)
    assert(head.getString(3) == (1 to 8).mkString("_"), head.getString(3))
  }

  // --------------------------- contiguousShards derived bucket count

  test("contiguousShards: derived bucket count (buckets=0) matches explicit counts") {
    import graft.operators.{Packing, TextFunctions}
    val docs = Tables.documents(spark, sf)
    val auto = Packing.contiguousShards(docs, "doc_id",
      TextFunctions.tokenCount(col("text")), budget = 700L)
    val explicit = Packing.contiguousShards(docs, "doc_id",
      TextFunctions.tokenCount(col("text")), budget = 700L, buckets = 8)
    assert(auto.exceptAll(explicit).count() == 0 &&
      explicit.exceptAll(auto).count() == 0)
  }

  test("contiguousShards: huge id spans shard without Long overflow") {
    import spark.implicits._
    import graft.operators.Packing
    // ids spread over ~the full positive long range: the multiply-first
    // bucket spelling ((id-lo)*buckets DIV span) overflows here and
    // produced non-monotone buckets; division-first must stay exact
    val ids = Seq(0L, (1L << 61), (1L << 62), (1L << 62) + (1L << 61),
      Long.MaxValue - 1)
    val df = ids.map(i => (i, 10L)).toDF("id", "w")
    val out = Packing.contiguousShards(df, "id", col("w"),
      budget = 25L, buckets = 64).orderBy(col("id")).collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 10L, 20L, 30L, 40L),
      out.mkString(","))
  }

  test("contiguousShards: all-null id on non-empty input fails loudly") {
    // (A non-numeric STRING id already fails loudly under ANSI cast —
    // the silent case the guard exists for is an id column that is
    // legitimately typed but all null: null bounds used to make every
    // bucket expression null and return an EMPTY frame for non-empty
    // input.)
    import spark.implicits._
    import graft.operators.Packing
    val df = Seq((null.asInstanceOf[java.lang.Long], 1L),
      (null.asInstanceOf[java.lang.Long], 2L)).toDF("id", "w")
    val e = intercept[IllegalArgumentException] {
      Packing.contiguousShards(df, "id", col("w"), budget = 10L)
    }
    assert(e.getMessage.contains("casts to null"), e.getMessage)
  }
}
