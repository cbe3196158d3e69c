package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, Sketches}
import graft.streaming.EventStream

/** Round-9 tail: the KMV set sketch, the RP-LSH hot-cell guard, and
  * multi-day chaining of the persisted signature store.
  */
class Round9TailSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  // ------------------------------------------------- kMinValues

  test("kMinValues equals the naive per-group bottom-k, at any fanout") {
    import spark.implicits._
    // Values engineered so cell boundaries (v % fanout) interleave
    // groups and duplicates must collapse before ranking.
    val rows = for {
      g <- Seq("a", "b", "c"); v <- 0L until 200L
      rep <- 0 until (if (v % 7 == 0) 3 else 1) // dup rows
      if (g != "c" || v < 5) // tiny group: fewer than k values
    } yield (g, v * 13 % 977)
    val df = rows.toDF("g", "v")
    val naive = df.select($"g", $"v").distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"g").orderBy($"v")))
      .filter($"rn" <= 16).drop("rn")
      .as[(String, Long)].collect().toSet
    for (fanout <- Seq(1, 3, 32, 1000)) {
      val got = Sketches.kMinValues(df, "g", "v", k = 16, fanout = fanout)
        .as[(String, Long)].collect().toSet
      assert(got == naive, s"fanout=$fanout diverges from naive bottom-k")
    }
    // tiny group keeps all of its (distinct) values
    assert(naive.count(_._1 == "c") == 5)
  }

  test("kMinValues output is <= k distinct rows per group") {
    import spark.implicits._
    val df = (0L until 500L).map(v => ("g", v % 100)).toDF("g", "v")
    val got = Sketches.kMinValues(df, "g", "v", k = 10).as[(String, Long)].collect()
    assert(got.length == 10 && got.map(_._2).distinct.length == 10)
    assert(got.map(_._2).sorted.toSeq == (0L until 10L))
  }

  // -------------------------------------- RP-LSH hot-cell guard

  private def hotVecs = {
    import spark.implicits._
    // 12 identical vectors: every table's cell holds all 12 — a
    // guaranteed hot cell at any cap < 12 — plus 3 spread vectors.
    val hot = (0L until 12L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
    val cold = Seq(
      (100L, Array(-1.0f, 5.0f, -3.0f, 0.5f)),
      (101L, Array(4.0f, -2.0f, 1.0f, -6.0f)),
      (102L, Array(-3.0f, -3.0f, 7.0f, 2.0f)))
    (hot ++ cold).toDF("vec_id", "embedding")
  }

  test("hot-cell guard: strict mode fails loudly with the cell coordinates") {
    val ex = intercept[Exception] {
      Similarity.rpLshNearDupPairs(hotVecs, "vec_id", "embedding",
        dim = 4, bits = 4, tables = 2, threshold = 0.9,
        maxCellSize = 8).count()
    }
    // USER_RAISED_EXCEPTION surfaces as SparkRuntimeException (task) or
    // wrapped in SparkException (driver) — walk the cause chain.
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("hot cell"), s"unexpected failure: $msgs")
  }

  test("hot-cell guard: dropHotCells excludes only the oversized cells") {
    import spark.implicits._
    val unguarded = Similarity.rpLshNearDupPairs(hotVecs, "vec_id", "embedding",
      dim = 4, bits = 4, tables = 2, threshold = 0.9, maxCellSize = 0)
      .as[(Long, Long, Double)].collect().toSet
    val dropped = Similarity.rpLshNearDupPairs(hotVecs, "vec_id", "embedding",
      dim = 4, bits = 4, tables = 2, threshold = 0.9,
      maxCellSize = 8, dropHotCells = true)
      .as[(Long, Long, Double)].collect().toSet
    // the hot identical-vector pairs are gone; what's left is a subset
    assert(dropped.subsetOf(unguarded))
    assert(!dropped.exists { case (a, b, _) => a < 12 && b < 12 },
      "pairs from the hot cell survived dropHotCells")
    // a generous cap changes nothing
    val generous = Similarity.rpLshNearDupPairs(hotVecs, "vec_id", "embedding",
      dim = 4, bits = 4, tables = 2, threshold = 0.9,
      maxCellSize = 1000)
      .as[(Long, Long, Double)].collect().toSet
    assert(generous == unguarded)
  }

  test("derived default guard: benign data passes value-identically, 64×-expectation cells fail loudly") {
    import spark.implicits._
    // benign: 15 vectors, derived cap = max(4096, ·) = 4096 — the
    // default-guarded result must be VALUE-identical to the explicit
    // unguarded opt-out (the guard is a pure pass-through until a
    // cell crosses the cap)
    val unguarded = Similarity.rpLshNearDupPairs(hotVecs, "vec_id", "embedding",
      dim = 4, bits = 4, tables = 2, threshold = 0.9, maxCellSize = 0)
      .as[(Long, Long, Double)].collect().toSet
    val defaulted = Similarity.rpLshNearDupPairs(hotVecs, "vec_id", "embedding",
      dim = 4, bits = 4, tables = 2, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(defaulted == unguarded)
    // degenerate: 4200 identical vectors at bits=8 — cap derives to
    // max(4096, 64·⌈4200/256⌉ = 1088) = 4096 < 4200, so the default
    // MUST fail loudly (the old default ran the 8.8M-pair product
    // silently). threshold high enough that no pair survives doesn't
    // matter: the guard fires during the join scan, before pairing.
    val degenerate = (0L until 4200L)
      .map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.rpLshNearDupPairs(degenerate, "vec_id", "embedding",
        dim = 4, bits = 8, tables = 1, threshold = 0.9).count()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("hot cell"), s"unexpected failure: $msgs")
  }

  // ------------------------- exact group order statistic (q147)

  // exact-decimal ⌈q·n⌉ — the documented contract (double arithmetic
  // says ceil(0.9 * 10) = 10; the decimal rank is 9)
  private def exactRank(q: Double, n: Int): Int =
    BigDecimal(java.math.BigDecimal.valueOf(q)).*(BigDecimal(n))
      .setScale(0, BigDecimal.RoundingMode.CEILING).toInt

  test("groupQuantileDisc == naive rank selection, at any bucket count and cap") {
    import spark.implicits._
    import graft.operators.Sampling
    val rnd = new scala.util.Random(7)
    // clumpy doubles with heavy ties and one widely-spread group
    val rows = (1 to 900).map { i =>
      val g = s"g${i % 4}"
      val v = if (g == "g3") rnd.nextDouble() * 1e6
        else math.floor(rnd.nextDouble() * 20) / 7.0
      (g, v)
    }
    val df = rows.toDF("g", "v")
    for (q <- Seq(0.25, 0.5, 0.9, 1.0)) {
      val naive = rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.map(_._2).sorted
        (g, sorted.length.toLong, sorted(exactRank(q, sorted.length) - 1))
      }.toSet
      // cap 40 < every group's 225 rows: forces refinement levels;
      // cap 0 disables refinement (the single-level path)
      for (buckets <- Seq(1, 7, 256); cap <- Seq(0L, 40L, 1L << 20)) {
        val got = Sampling.groupQuantileDisc(df, "g", "v", q, buckets, cap)
          .as[(String, Long, Double)].collect().toSet
        assert(got == naive, s"q=$q buckets=$buckets cap=$cap")
      }
    }
  }

  test("groupQuantileDisc rank is exact-decimal ⌈q·n⌉, not the double product") {
    import spark.implicits._
    import graft.operators.Sampling
    // 10 rows valued 1..10: p90 is the 9th value (⌈0.9·10⌉ = 9).
    // Double arithmetic computes 0.9*10 = 9.000000000000002 → rank 10
    // — the pre-round-10 off-by-one (ADVICE r9).
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("g", "v")
    val got = Sampling.groupQuantileDisc(df, "g", "v", 0.9)
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("g", 10L, 9.0)), s"got $got")
  }

  test("groupQuantileDisc heavy-hitter skew: constant-dominated group resolves without a giant rank") {
    import spark.implicits._
    import graft.operators.Sampling
    // 70% of the group is ONE repeated value: the old single-level
    // selection put the whole group in one bucket and sort-ranked it
    // in a single task. With the cap, the refinement's min==max early
    // exit answers the hot bucket directly; with the quantile in the
    // spread tail, refinement narrows until ≤ cap rows are ranked.
    val heavy = (1 to 7000).map(_ => ("s", 42.0)) ++
      (1 to 3000).map(i => ("s", 100.0 + i / 7.0))
    val df = heavy.toDF("g", "v")
    val sorted = heavy.map(_._2).sorted
    for (q <- Seq(0.25, 0.5, 0.69, 0.71, 0.95); cap <- Seq(50L, 1000L)) {
      val want = ("s", 10000L, sorted(exactRank(q, 10000) - 1))
      val got = Sampling.groupQuantileDisc(df, "g", "v", q,
          buckets = 16, maxBucketRows = cap)
        .as[(String, Long, Double)].collect().toSeq
      assert(got == Seq(want), s"q=$q cap=$cap: got $got want $want")
    }
    // cap=1 drives refinement to exhaustion (maxDepth fallback path):
    // still exact
    val got1 = Sampling.groupQuantileDisc(df, "g", "v", 0.5,
        buckets = 4, maxBucketRows = 1)
      .as[(String, Long, Double)].collect().toSeq
    assert(got1 == Seq(("s", 10000L, sorted(exactRank(0.5, 10000) - 1))))
  }

  test("groupQuantileDisc: empty and all-null inputs return empty, well-typed frames") {
    import spark.implicits._
    import graft.operators.Sampling
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    assert(Sampling.groupQuantileDisc(empty, "g", "v", 0.5).count() == 0)
    val nulls = Seq(("a", null.asInstanceOf[java.lang.Double]))
      .toDF("g", "v")
    val out = Sampling.groupQuantileDisc(nulls, "g", "v", 0.5)
    assert(out.columns.toSeq == Seq("g", "n_rows", "quantile"))
    assert(out.count() == 0)
  }

  // ------------------------------------- product quantization (q146)

  test("pqCodes: a seed vector codes to itself (d2 = 0) in every subspace") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val seeds = e.filter(col("vec_id") < 8)
    val cb = Similarity.pqCodebook(seeds, "vec_id", "embedding", dim = 64, m = 4)
    assert(cb.count() == 32) // 8 seeds × 4 subspaces
    val selfCodes = Similarity
      .pqCodes(seeds, cb, "vec_id", "embedding", dim = 64, m = 4)
      .filter(col("vec_id") =!= col("code")).count()
    assert(selfCodes == 0, "a seed's nearest centroid must be itself")
  }

  test("pqAdcTopK returns k ranked rows per query with exact fixed-point scores") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = Similarity.pqCodebook(e.filter(col("vec_id") < 8),
      "vec_id", "embedding", dim = 64, m = 4)
    val adc = Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 3), cb,
      "vec_id", "embedding", dim = 64, m = 4, k = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(adc.length == 12) // 3 queries × k=4
    adc.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      // scores ascend with rank (fixed-point longs — exact compare)
      assert(rows.sortBy(_._2).map(_._4).sliding(2).forall(p => p(0) <= p(1)))
    }
  }

  test("ivfPqTopK honors the IVF contract: neighbors come only from probed lists") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val top = Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5),
        e.filter(col("vec_id") < 8),
        e.filter(col("vec_id") >= 8 && col("vec_id") < 16),
        "vec_id", "embedding", dim = 64, m = 4, nProbe = 2, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top.length == 25)
    // independent driver-side recompute of assignments and probes
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cents = (0L until 8L).map(c => c -> vecs(c))
    def assign(v: Array[Double]): Long =
      cents.minBy { case (cid, cv) => (d2(v, cv), cid) }._1
    def probes(q: Array[Double]): Set[Long] =
      cents.sortBy { case (cid, cv) => (d2(q, cv), cid) }.take(2)
        .map(_._1).toSet
    top.foreach { case (q, n) =>
      assert(probes(vecs(q)).contains(assign(vecs(n))),
        s"neighbor $n of query $q lives in an unprobed list")
    }
  }

  // ------------------------------------------- phrase search (q144)

  test("phraseHash equals the in-plan positional gram hash; phraseSearch counts occurrences") {
    import spark.implicits._
    import graft.operators.{InvertedIndex, TextFunctions}
    val phrase = Seq("slow", "hash", "batch")
    val grams = Seq("pre slow hash batch post").toDF("text")
      .select(TextFunctions.gramHashes(
        TextFunctions.tokens(col("text")), 3).as("g"))
      .as[Seq[Long]].head()
    // the phrase starts at token 2 → gram index 1 (0-based)
    assert(grams(1) == TextFunctions.phraseHash(phrase),
      "driver-side chain diverges from the in-plan fold")
    val docs = Seq(
      (1L, "slow hash batch then slow hash batch again"), // 2 occurrences
      (2L, "a slow hash batch only once here"),
      (3L, "slow batch hash scrambled never matches"),
      (4L, "hash batch slow also scrambled")).toDF("doc_id", "text")
    val got = InvertedIndex.phraseSearch(docs, "doc_id", "text", phrase, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 1L)), s"got $got")
  }

  // ------------------------ warm-started streaming dedup (q142)

  test("bootstrapDedup: history keys never emit; novel keys emit first event once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ev(id: Long, user: Long, tp: String, ms: Long) = EventStream.Event(
      id, new java.sql.Timestamp(1700000000000L + ms), user, tp, 0.0)
    // history: (user 1, view, day) — built exactly as q142 builds it
    val historyKeys = Seq(ev(100, 1, "view", 0)).toDS().toDF()
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string").as("day"))
      .distinct().as[EventStream.DedupKey]
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.bootstrapDedup(spark, mem.toDF(), historyKeys)
      .writeStream.outputMode("update").format("memory")
      .queryName("bd_out").start()
    try {
      // batch 1: seeded key recurs (must stay silent); novel key
      // arrives out of id order — first is by (us, event_id)
      mem.addData(ev(1, 1, "view", 1000), ev(2, 1, "click", 3000),
        ev(3, 1, "click", 2000))
      q.processAllAvailable()
      // batch 2: batch-1 key recurs across the boundary; new user
      mem.addData(ev(4, 1, "click", 5000), ev(5, 2, "view", 1000))
      q.processAllAvailable()
      val got = spark.table("bd_out")
        .select("user_id", "event_type", "event_id")
        .as[(Long, String, Long)].collect().toSet
      assert(got.map(_._3) == Set(3L, 5L),
        s"expected first-events {3, 5}, got $got")
      assert(got == Set((1L, "click", 3L), (2L, "view", 5L)))
    } finally {
      q.stop()
      prevProvider.fold(
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass"))(
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    }
  }

  test("dedupBootstrapCut provably straddles a dedup key at sf0.01") {
    // q142's gate is only as strong as its cut: at least one
    // (user, type, day) key must occur on BOTH sides, or a bootstrap
    // that lost the seeding would pass vacuously.
    val dir = "/root/testdata/sf0.01"
    val cut = graft.queries.WindowQueries.dedupBootstrapCut(spark, dir)
    assert(cut.isDefined, "no straddling pair found")
    val c = cut.get
    val keyed = Tables.events(spark, dir).filter(col("user_id") < 40)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string").as("day"),
        unix_micros(col("ts")).as("us"))
    val straddling = keyed.groupBy("user_id", "event_type", "day")
      .agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .filter(col("lo") < c && col("hi") >= c)
      .count()
    assert(straddling >= 1, s"cut $c bisects no key")
  }

  test("restartRecurrenceCut: a phase-1-emitted key and a history key both recur after the kill") {
    // q143's restart is only probative if live state spans it: (a) a
    // key NOVEL to history that first occurs in [c1, c2) — it emits
    // before the kill, so its recurrence >= c2 catches lost
    // accumulated state; (b) a HISTORY key occurring >= c2 — catches
    // lost seeded state.
    val dir = "/root/testdata/sf0.01"
    val c1 = graft.queries.WindowQueries.dedupBootstrapCut(spark, dir).get
    val c2 = graft.queries.WindowQueries.restartRecurrenceCut(spark, dir, c1).get
    assert(c1 < c2)
    val keyed = Tables.events(spark, dir).filter(col("user_id") < 40)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string").as("day"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id", "event_type", "day")
      .agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
    val novelStraddling = keyed
      .filter(col("lo") >= c1 && col("lo") < c2 && col("hi") >= c2).count()
    assert(novelStraddling >= 1, s"no novel key emits in [$c1,$c2) and recurs")
    val historyRecurring = keyed
      .filter(col("lo") < c1 && col("hi") >= c2).count()
    assert(historyRecurring >= 1, s"no history key recurs after $c2")
  }

  // -------------------------- signature store: multi-day chaining

  test("signature store chains across days: day-2 dedups against day-1's batch") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_store").toString
    def doc(id: Long, text: String) = (id, text)
    val history = Seq(
      doc(1, "alpha beta gamma delta epsilon zeta"),
      doc(2, "one two three four five six seven")).toDF("doc_id", "text")
    val day1 = Seq(
      doc(10, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      doc(11, "entirely novel content first appearing on day one here"))
      .toDF("doc_id", "text")
    val day2 = Seq(
      doc(20, "entirely novel content first appearing on day one here"), // dup of 11
      doc(21, "fresh day two material nothing matches this at all"))
      .toDF("doc_id", "text")

    Dedup.writeSignatureStore(history, "doc_id", "text",
      k = 16, shingleN = 3, root = root, batchId = 1L)
    val v1 = Dedup.incrementalDedupFromStore(
        Dedup.readSignatureStore(spark, root), day1,
        "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
      .select("doc_id", "is_exact_dup").as[(Long, Boolean)].collect().toMap
    assert(v1 == Map(10L -> true, 11L -> false))

    // append day-1's own signatures, then day-2 must see doc 11
    Dedup.writeSignatureStore(day1, "doc_id", "text",
      k = 16, shingleN = 3, root = root, batchId = 2L)
    val v2 = Dedup.incrementalDedupFromStore(
        Dedup.readSignatureStore(spark, root), day2,
        "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
      .select("doc_id", "is_exact_dup").as[(Long, Boolean)].collect().toMap
    assert(v2 == Map(20L -> true, 21L -> false),
      "day-2 verdict must match against day-1's appended batch")

    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("compactSignatureStore: one batch replaces many; verdict invariant through the crash window") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_compact_store").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def batchDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq
    val h1 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val h2 = Seq((3L, "lorem ipsum dolor sit amet consectetur adipiscing"))
      .toDF("doc_id", "text")
    val probe = Seq((10L, "alpha beta gamma delta epsilon zeta"), // dup of 1
      (11L, "completely novel probe text nothing here matches"))
      .toDF("doc_id", "text")
    def verdict() = Dedup.incrementalDedupFromStore(
        Dedup.readSignatureStore(spark, root), probe,
        "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    Dedup.writeSignatureStore(h1, "doc_id", "text", 16, 3, root, batchId = 1L)
    Dedup.writeSignatureStore(h2, "doc_id", "text", 16, 3, root, batchId = 2L)
    val v0 = verdict()
    assert(v0.head(1) == true, "probe 10 must be an exact dup of doc 1")

    // compaction: two dirs become one, verdict untouched
    assert(Dedup.compactSignatureStore(spark, root, "doc_id", 5L) == 2)
    assert(batchDirs() == Seq("batch=5"))
    assert(verdict() == v0)

    // the crash window: history docs visible TWICE (a committed
    // compacted batch alongside a not-yet-deleted original) — the
    // distinct-id verdict must not see it
    Dedup.writeSignatureStore(h1, "doc_id", "text", 16, 3, root, batchId = 6L)
    assert(verdict() == v0, "duplicate store rows changed the verdict")

    // re-running the compaction heals the duplicates
    assert(Dedup.compactSignatureStore(spark, root, "doc_id", 7L) == 2)
    assert(verdict() == v0)
    assert(Dedup.readSignatureStore(spark, root).count() == 3)

    // a non-monotone id is refused (half-finished compactions must be
    // distinguishable from what they replace)
    intercept[IllegalArgumentException] {
      Dedup.compactSignatureStore(spark, root, "doc_id", 3L)
    }
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }
}
