package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measured-execution backing for the plan-shape claims: PlanSpec
  * asserts what the plan says; these tests assert what an execution
  * actually shuffled. Also pins the AQE skew-join split — the runtime
  * complement to the manual salting of q82.
  */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  import spark.implicits._
  private val sf = "/root/testdata/sf0.01"

  test("q48 hash sampling measures ZERO shuffle bytes — not just a shuffle-free plan") {
    val (_, m) = Metrics.capture(spark) {
      SparkEntry.queries("q48_hash_sample")(spark, sf).collect()
    }
    assert(m.shuffleWriteBytes == 0 && m.shuffleReadBytes == 0, m)
    assert(m.inputRecords > 0, m)
  }

  test("Pii.scrub measures zero shuffle bytes (q66 adds only a presentation sort)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (_, m) = Metrics.capture(spark) {
      graft.operators.Pii.scrub(docs, "text").collect()
    }
    assert(m.shuffleWriteBytes == 0 && m.shuffleReadBytes == 0, m)
  }

  test("q144 phrase search measures ZERO shuffle bytes — the top-k is partial ranks only") {
    val (_, m) = Metrics.capture(spark) {
      SparkEntry.queries("q144_phrase_search")(spark, sf).collect()
    }
    assert(m.shuffleWriteBytes == 0 && m.shuffleReadBytes == 0, m)
    assert(m.inputRecords > 0, m)
  }

  test("q02's map-side combine shuffles orders of magnitude less than its input") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val inputBytes = li.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f).getPath).length).sum
    val (_, m) = Metrics.capture(spark) {
      SparkEntry.queries("q02_groupby_agg")(spark, sf).collect()
    }
    // 6 groups × a few columns: the partial aggregation reduces the
    // shuffle to KBs against MBs of scan — measured, not asserted from
    // the plan string
    assert(m.shuffleWriteBytes > 0, m)
    assert(m.shuffleWriteBytes * 100 < inputBytes,
      s"shuffle ${m.shuffleWriteBytes} vs input $inputBytes")
  }

  test("SCD2 changedOnly shuffles batch-proportional bytes, not dimension-proportional") {
    import java.time.LocalDate
    import graft.operators.ScdType2
    // synthetic dimension big enough that the diff join dominates the
    // measurement: 100k ids with fat attribute strings; the CDC batch
    // touches 1% of them
    def rows(base: org.apache.spark.sql.DataFrame) = base.select(
      concat(lit("id"), col("id")).as("bid"),
      concat(lit("name-of-"), col("id"), lit("-"), lit("x" * 64)).as("name"),
      concat(lit("addr-"), col("id") % 977, lit("-"), lit("y" * 64)).as("address"))
    val base = spark.range(100000L).toDF()
    val first = ScdType2(rows(base), None, "bid", Seq("name", "address"),
      Seq("address"), "sk", LocalDate.parse("2024-06-01"))
      .localCheckpoint(true)
    val batch = rows(base.filter(col("id") % 100 === 7))
      .withColumn("address", concat(col("address"), lit("-moved")))
      .localCheckpoint(true)

    def run(pruned: Boolean): Long = {
      val (_, m) = Metrics.capture(spark) {
        ScdType2(batch, Some(first), "bid", Seq("name", "address"),
          Seq("address"), "sk", LocalDate.parse("2024-07-01"),
          changedOnly = pruned).write.format("noop").mode("overwrite").save()
      }
      m.shuffleWriteBytes
    }
    val full = run(pruned = false)
    val cdc = run(pruned = true)
    // the whole-dimension re-key shuffle (reference key semantics) is
    // common to both paths and bounds the ratio; the prune removes the
    // diff join's dimension-sized exchanges — measured ~37% of total
    // at this shape, asserted with margin
    assert(cdc < full * 7 / 10,
      s"changedOnly shuffled $cdc bytes vs full $full — prune not effective")
    graft.operators.Checkpoints.releasePinned(first)
    graft.operators.Checkpoints.releasePinned(batch)
  }

  test("observeValidation counts rows and nulls during the write — no second scan") {
    import graft.operators.DataQuality
    val dir = java.nio.file.Files.createTempDirectory("graft_obs").toString
    val df = Seq((1L, "a"), (2L, null), (3L, "c"), (4L, null))
      .toDF("id", "s")
    val obs = new org.apache.spark.sql.Observation("stage")
    val ((), m) = Metrics.capture(spark) {
      DataQuality.observeValidation(df, obs, Seq("s"))
        .write.mode("overwrite").parquet(dir)
    }
    assert(obs.get("n_rows") == 4L)
    assert(obs.get("n_null_s") == 2L)
    // one job: the write itself — validation added no stages beyond it
    assert(m.stages == 1, m)
  }

  test("AQE splits a skewed join partition at runtime (the q82 salting's runtime twin)") {
    // one hot key owning ~all rows, forced through a sort-merge join
    val hot = spark.range(0, 200000).select(
      lit(7L).as("k"), col("id").as("payload"))
      .unionByName(spark.range(0, 50).select((col("id") % 17).as("k"), col("id").as("payload")))
    val dim = spark.range(0, 20).select(col("id").as("k"), (col("id") * 2).as("v"))
    val prev = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> spark.conf.getOption("spark.sql.adaptive.skewJoin.enabled"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> spark.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val joined = hot.join(dim, "k")
      // execute THIS frame so AQE finalizes its adaptive plan (count()
      // would build and finalize a separate execution)
      assert(joined.collect().length == 200050)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("q128 incremental dedup shuffles a small fraction of the corpus — history streams") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val inputBytes = docs.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f).getPath).length).sum
    val isBatch = pmod(graft.operators.TextFunctions.hash60(
      col("doc_id").cast("string")), lit(10L)) < 1
    val (_, m) = Metrics.capture(spark) {
      graft.operators.Dedup.incrementalDedup(
        Tables.documents(spark, sf).filter(!isBatch),
        Tables.documents(spark, sf).filter(isBatch),
        "doc_id", "text", k = 16, shingleN = 3, bands = 8, threshold = 0.5)
        .collect()
    }
    // every history-touching join is a broadcast: the only exchanges
    // carry batch digests/band-keys/candidates (a ~10% coin of the
    // corpus and its collision set), so measured shuffle must stay a
    // small fraction of the corpus bytes the operator read
    assert(m.shuffleWriteBytes * 4 < inputBytes,
      s"shuffle ${m.shuffleWriteBytes} vs corpus $inputBytes")
    assert(m.inputRecords > 0, m)
  }

  test("q131 LSH near-dup shuffle grows ~linearly with the corpus, never as pairs") {
    // The bucket join shuffles `tables` signature rows per doc (each
    // carrying the embedding) — corpus-LINEAR by design. A regression
    // to a pair-product shape (q130's corpus²/buckets) would show as
    // ~quadratic shuffle growth across a 10× corpus: 500 docs at
    // sf0.001 vs 5000 at sf0.01 must shuffle well under 100× more.
    def shuffled(dir: String): Long = {
      val (_, m) = Metrics.capture(spark) {
        SparkEntry.queries("q131_embed_lsh_neardup")(spark, dir).collect()
      }
      m.shuffleWriteBytes
    }
    val small = shuffled("/root/testdata/sf0.001")
    val big = shuffled(sf)
    assert(small > 0, "expected a real shuffle at sf0.001")
    assert(big < 30L * small,
      s"shuffle grew ${big.toDouble / small}× for 10× docs — pair-product regression")
  }

  test("curation DAG epoch shuffles batch-proportional bytes — signature-store depth is free") {
    import graft.operators._
    val CP = CurationPipeline
    def mkDocs(lo: Long, hi: Long) = {
      (lo until hi).map(i => (i, s"src${i % 2}",
        s"menu\nunique body $i with alpha beta gamma tok$i\nfooter"))
        .toDF("doc_id", "source", "text")
    }
    // per-epoch shuffle bytes for a FIXED 100-doc slice over a prior
    // signature history of `histN` docs; model stores identical
    def epochShuffle(histN: Long): Long = {
      val base = java.nio.file.Files.createTempDirectory("graft_m16").toString
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      try {
        val st = CP.Stores(p("ldf"), p("qual"), p("lm"), p("sig"), p("kept"))
        val slice = mkDocs(1000000L, 1000100L)
        QualityClassifier.writeQualityStore(
          slice.withColumn("label", lit("good")), "label", "text",
          buckets = 64, root = st.quality, batchId = 1L)
        Boilerplate.writeLineDfStore(slice, "doc_id", "source", "text",
          st.lineDf, batchId = 1L)
        LanguageModel.writeLmStore(slice, "doc_id", "text", st.lm, 1L)
        Dedup.writeSignatureStore(mkDocs(0L, histN), "doc_id", "text",
          k = 4, shingleN = 3, root = st.signatures, batchId = 1L)
        val gates = CP.Gates(minDf = 1000L, buckets = 64,
          keepLabel = "good", lmCutAvgFp = 0.0, mixKeep = lit(true))
        val (_, m) = Metrics.capture(spark) {
          CP.processSlice(spark, st, gates, slice, "doc_id", "source",
            "text", batchId = 2L)
        }
        m.shuffleWriteBytes
      } finally {
        val pp = new org.apache.hadoop.fs.Path(base)
        pp.getFileSystem(spark.sessionState.newHadoopConf()).delete(pp, true)
      }
    }
    val thin = epochShuffle(100L)
    val fat = epochShuffle(20000L)
    // the dedup stage streams the store's digests map-side against the
    // broadcast batch digest set (Dedup.incrementalDedupFromStore's
    // exact pass) — a 200× deeper history must not grow the epoch's
    // shuffle (the pre-fix history-digest distinct() shuffled ~200×
    // more here). Generous headroom for partition-count constants.
    assert(thin > 0, "expected a real per-epoch shuffle")
    assert(fat < thin * 3 / 2 + (64 << 10),
      s"per-epoch shuffle grew with history depth: thin=$thin fat=$fat")
  }

  test("served boilerplate strip reads only the batch's domains' buckets — input ∝ slice domains") {
    import graft.operators._
    val base = java.nio.file.Files.createTempDirectory("graft_m16b").toString
    val root = new org.apache.hadoop.fs.Path(base, "ldf").toString
    try {
      // 64 domains × 30 docs × 4 lines; the batch strips ONE domain.
      // Four store batches: the serve skips the pruning machinery on
      // smaller stores (the size-gated degrade), and this pin is the
      // LARGE case — dir pruning must engage and be effective.
      val corpus = (0L until 1920L).map { i =>
        val d = s"d${i % 64}"
        (i, d, s"nav $d\nbody $i alpha\nbody $i beta\nfooter $d")
      }.toDF("doc_id", "domain", "text")
      (0L until 4L).foreach(b =>
        Boilerplate.writeLineDfStore(corpus.filter(col("doc_id") % 4 === b),
          "doc_id", "domain", "text", root, batchId = b + 1L))
      val storeRows = BatchStore.read(spark, root).count()
      val batch = corpus.filter(col("domain") === "d7")
      val (got, m) = Metrics.capture(spark) {
        Boilerplate.stripRepeatedLinesFromStore(spark, root, batch,
          "doc_id", "domain", "text", minDf = 10L).collect()
      }
      // one domain hashes to one of 16 `__db` dirs (~4 domains' rows);
      // the scan must not read the other 15 buckets
      assert(m.inputRecords < storeRows / 3,
        s"read ${m.inputRecords} store rows of $storeRows — __db dir " +
          "pruning not effective")
      // value check: the store counts equal corpus counts here, so the
      // served strip must equal the in-memory strip restricted to d7
      val expected = Boilerplate.stripRepeatedLines(corpus, "doc_id",
          "domain", "text", minDf = 10L)
        .filter(col("domain") === "d7")
        .orderBy(col("doc_id")).collect()
      assert(got.sortBy(_.getLong(0)).toSeq == expected.toSeq)
    } finally {
      val pp = new org.apache.hadoop.fs.Path(base)
      pp.getFileSystem(spark.sessionState.newHadoopConf()).delete(pp, true)
    }
  }
}
