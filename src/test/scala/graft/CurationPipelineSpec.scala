package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Round-15: the streamed curation DAG ([[graft.operators
  * .CurationPipeline]]) — slice-order equivalence (a STREAM of slices
  * commits exactly what a sequential batch fold over the same slices
  * commits), epoch replay idempotence, and the crash-between-commits
  * retry window. End-to-end values are oracle-gated in q221. */
class CurationPipelineSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  private val CP = CurationPipeline

  private def docs = {
    import spark.implicits._
    (0L until 60L).map { i =>
      val body =
        if (i % 5 == 0) s"dup group ${i % 10} shared body text here"
        else s"unique body $i with alpha beta gamma tok$i"
      (i, s"src${i % 2}",
        s"<nav>menu src${i % 2}</nav>\n<p>$body</p>\n<footer>(c) src${i % 2}</footer>")
    }.toDF("doc_id", "source", "text")
  }

  private def withBase(ledger: Boolean = false,
      dupLabeledBad: Boolean = false)(
      body: (CP.Stores, CP.Gates) => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_cp").toString
    def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
    val stores = CP.Stores(p("ldf"), p("qual"), p("lm"), p("sig"), p("kept"),
      ledger = if (ledger) Some(p("led")) else None)
    val raw = docs.withColumn("text",
      regexp_replace(col("text"), "<[^>]*>", " "))
    // default labels (doc_id % 3) carry no TEXTUAL signal — the NB
    // classifier passes everything and the quality stage is a no-op;
    // `dupLabeledBad` labels the dup-group bodies bad instead, which
    // the classifier separates cleanly (disjoint token sets), so the
    // quality gate actually bites for the ledger test
    val labelExpr =
      if (dupLabeledBad)
        when(col("text").contains("dup group"), lit("bad"))
          .otherwise(lit("good"))
      else
        when(col("doc_id") % 3 === 0, lit("bad")).otherwise(lit("good"))
    QualityClassifier.writeQualityStore(
      raw.withColumn("label", labelExpr),
      "label", "text", buckets = 256, root = stores.quality, batchId = 1L)
    Boilerplate.writeLineDfStore(raw, "doc_id", "source", "text",
      stores.lineDf, batchId = 1L)
    LanguageModel.writeLmStore(raw, "doc_id", "text", stores.lm, 1L)
    val gates = CP.Gates(minDf = 10L, buckets = 256, keepLabel = "good",
      lmCutAvgFp = 0.0, mixKeep = lit(true))
    try body(stores, gates)
    finally {
      val pp = new org.apache.hadoop.fs.Path(base)
      pp.getFileSystem(spark.sessionState.newHadoopConf()).delete(pp, true)
    }
  }

  private def keptIds(st: CP.Stores): Set[Long] =
    BatchStore.read(spark, st.kept).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet

  test("a sequential fold over slices commits exactly one first-arrival keeper per content and gates the rest") {
    withBase() { (st, gates) =>
      val slices = Seq(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2))
      slices.zipWithIndex.foreach { case (sl, i) =>
        CP.processSlice(spark, st, gates, sl, "doc_id", "source", "text",
          batchId = 1L + i)
      }
      val kept = keptIds(st)
      // the dup-group content (i % 5 == 0, keyed by i % 10 -> groups 0
      // and 5): first arrival is the min id in the EARLIEST slice that
      // carries the content — group 0's members are 0,10,20,...: slice
      // of 0 is epoch 0, keeper 0; group 5's are 5,15,25,...: epochs
      // 2,0,1,... -> first arrival is 15 (epoch 0), NOT min id 5
      assert(kept.intersect(Set(10L, 20L, 30L, 40L, 50L)).isEmpty,
        s"group-0 non-keepers must not survive: $kept")
      assert(kept.intersect(Set(5L, 25L, 35L, 45L, 55L)).isEmpty &&
        !kept.contains(5L),
        s"group-5's first arrival is 15 (epoch 0), not min-id 5: $kept")
      // the kept set must equal the DIRECT batch composition of the
      // same stages with the same slice-order dedup rule: strip ->
      // (epoch, id)-ordered keeper -> classifier 'good' (lm cut 0 and
      // mix=true are pass-through in this fixture)
      val stripped = Boilerplate.stripRepeatedLinesFromStore(spark,
        st.lineDf,
        docs.withColumn("text", Boilerplate.stripMarkup(col("text"))),
        "doc_id", "source", "text", gates.minDf)
        .withColumn("__e", col("doc_id") % 3)
        .withColumn("__h", md5(col("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__h"))
        .orderBy(col("__e"), col("doc_id"))
      val keepers = stripped
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__e", "__h", "__rn")
      val expected = QualityClassifier.classifyFromStore(spark, st.quality,
          keepers, "doc_id", "text", gates.buckets)
        .filter(col("label_pred") === gates.keepLabel)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(kept == expected,
        s"fold must equal the direct composition: ${kept.diff(expected)} / ${expected.diff(kept)}")
    }
  }

  test("epochs release their pins: with a ModelCache only the cache's frames remain, none after releaseAll") {
    withBase(ledger = true) { (st, gates) =>
      // id sets, never counts, and no forced GC: the ContextCleaner
      // would hide a leak; each pin's call site is its pin site
      val before = spark.sparkContext.getPersistentRDDs.keySet
      def left = spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !before(id) }.values
        .map(_.toString).toSeq
      val models = new ModelCache
      Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
        .zipWithIndex.foreach { case (slice, i) =>
          CP.processSlice(spark, st, gates, slice, "doc_id", "source", "text",
            batchId = 1L + i, models = Some(models))
        }
      assert(left.nonEmpty && left.forall(_.contains("localCheckpoint at ModelCache.scala:")),
        s"an epoch left pins outside the model cache: $left")
      models.releaseAll()
      assert(left.isEmpty, s"pins left after releaseAll: $left")
    }
  }

  test("streamed run commits the SAME kept set as the sequential fold; epoch replay no-ops") {
    var foldKept: Set[Long] = null
    withBase() { (st, gates) =>
      (0 to 2).foreach(i => CP.processSlice(spark, st, gates,
        docs.filter(col("doc_id") % 3 === i), "doc_id", "source", "text",
        1L + i))
      foldKept = keptIds(st)
    }
    withBase() { (st, gates) =>
      val stage = java.nio.file.Files.createTempDirectory("graft_cp_stage")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_cp_ckpt")
      (0 to 2).foreach(i => docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(stage.toString))
      val fs = new org.apache.hadoop.fs.Path(stage.toString)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val t0 = System.currentTimeMillis() - 60000
      fs.listStatus(new org.apache.hadoop.fs.Path(stage.toString)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getModificationTime).zipWithIndex
        .foreach { case (s0, i) => fs.setTimes(s0.getPath, t0 + i * 1000L, -1) }
      val snk = CP.sink(st, gates, "doc_id", "source", "text")
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => snk(b, id))
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(keptIds(st) == foldKept,
        "streamed epochs must commit exactly the sequential fold's kept set")
      // replayed epoch: no-op, nothing duplicated
      val before = BatchStore.read(spark, st.kept).count()
      CP.processSlice(spark, st, gates, docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "source", "text", batchId = 1L)
      assert(BatchStore.read(spark, st.kept).count() == before)
    }
  }

  test("disposition ledger: every input doc exactly once, first-failing-stage attribution, funnel consistency") {
    withBase(ledger = true, dupLabeledBad = true) { (st, gates) =>
      (0 to 2).foreach(i => CP.processSlice(spark, st, gates,
        docs.filter(col("doc_id") % 3 === i), "doc_id", "source", "text",
        1L + i))
      val led = BatchStore.read(spark, st.ledger.get)
        .select(col("doc_id"), col("stage"), col("batch"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(led.size == 60 && led.map(_._1).distinct.size == 60,
        s"one disposition row per input doc: ${led.size}")
      val byStage = led.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      // dedup drops: group-0 copies {10..50}, group-5 copies incl.
      // min-id 5 (first arrival is 15, epoch 0)
      assert(byStage("dedup") ==
        Set(10L, 20L, 30L, 40L, 50L, 5L, 25L, 35L, 45L, 55L), byStage)
      // quality drops: the dup-group KEEPERS (0 and 15) — their bodies
      // are the trained-'bad' text, and dedup attribution must win for
      // their non-keeper copies (first-failing-stage, not any-failing)
      assert(byStage("quality") == Set(0L, 15L), byStage)
      // lm cut 0.0 and mix=true are pass-through here
      assert(!byStage.contains("lm") && !byStage.contains("mixture"),
        byStage.keys.toSeq.sorted.mkString(","))
      assert(byStage("kept") == keptIds(st),
        "ledger kept rows must equal the kept store")
      assert(byStage("kept") == (0L until 60L).toSet
          -- byStage("dedup") -- byStage("quality"), byStage)
      // funnel: per (batch, stage) exits + reached counts, rates
      val fun = CP.funnel(BatchStore.read(spark, st.ledger.get))
        .collect().map(r => (r.get(r.fieldIndex("batch")).toString.toLong,
          r.getString(r.fieldIndex("stage")),
          r.getLong(r.fieldIndex("n_exited")),
          r.getLong(r.fieldIndex("n_reached")))).toSeq
      // every epoch's dedup row reaches the full 20-doc slice
      (1L to 3L).foreach { b =>
        val total = fun.filter(_._1 == b).map(_._3).sum
        assert(total == 20, s"batch $b dispositions must cover the slice: $total")
        fun.filter(t => t._1 == b && t._2 == "dedup")
          .foreach(t => assert(t._4 == 20, s"dedup reaches all of batch $b: $t"))
        fun.filter(t => t._1 == b && t._2 == "kept")
          .foreach(t => assert(t._3 == t._4, s"kept row exits all it reaches: $t"))
      }
      // replayed epoch: ledger no-ops too
      CP.processSlice(spark, st, gates, docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "source", "text", batchId = 1L)
      assert(BatchStore.read(spark, st.ledger.get).count() == 60)
    }
  }

  test("ledger erasure: tombstoned ids mask on read, survive the Erasure fan-out, and purge physically") {
    import spark.implicits._
    withBase(ledger = true) { (st, gates) =>
      (0 to 1).foreach(i => CP.processSlice(spark, st, gates,
        docs.filter(col("doc_id") % 3 === i), "doc_id", "source", "text",
        1L + i))
      val lroot = st.ledger.get
      assert(CP.readLedger(spark, lroot, "doc_id").count() == 40)
      // forget docs 0..9 EVERYWHERE — the ledger rides the same
      // registry fan-out as the data stores (the audit trail is
      // itself per-doc personal data)
      val erased = docs.filter(col("doc_id") < 10)
      Erasure.forget(erased, "doc_id", "text",
        Seq(Erasure.LedgerStore(lroot),
          Erasure.SignatureStore(st.signatures)), batchId = 100L)
      // slices 0/1 carry only 7 of the erased ids (0,3,6,9 and 1,4,7)
      val after = CP.readLedger(spark, lroot, "doc_id")
      assert(after.count() == 33 &&
        after.filter(col("doc_id") < 10).count() == 0,
        "tombstoned dispositions must mask on read")
      // funnel over the masked read stays consistent
      val funTotal = CP.funnel(after)
        .agg(sum(col("n_exited"))).as[Long].collect().head
      assert(funTotal == 33)
      // purge: physically absent, layout rebuilt, mask retired
      Erasure.purgeEverywhere(spark, Seq(Erasure.LedgerStore(lroot)),
        "doc_id", newBatchId = 101L)
      val raw = BatchStore.read(spark, lroot)
      assert(raw.count() == 33 &&
        raw.filter(col("doc_id") < 10).count() == 0,
        "purge must drop tombstoned rows from the store itself")
      assert(Tombstones.batches(spark, lroot).isEmpty,
        "applied tombstones must retire at purge")
    }
  }

  test("kept-corpus erasure: masked read, masked packed export, physical purge") {
    import spark.implicits._
    withBase() { (st, gates) =>
      (0 to 1).foreach(i => CP.processSlice(spark, st, gates,
        docs.filter(col("doc_id") % 3 === i), "doc_id", "source", "text",
        1L + i))
      val before = keptIds(st)
      val victim = before.head
      Erasure.forget(docs.filter(col("doc_id") === victim),
        "doc_id", "text", Seq(Erasure.KeptStore(st.kept)), batchId = 50L)
      // masked read drops the victim; packedShards exports through it
      val masked = CP.readKept(spark, st.kept, "doc_id")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(masked == before - victim, s"mask must drop $victim")
      val packedDocs = Packing.packSequences(
        CP.readKept(spark, st.kept, "doc_id"), "doc_id", "text",
        shards = 2, budgetTokens = 64)
        .select(col("doc_id")).as[Long].collect().toSet
      assert(!packedDocs.contains(victim),
        "a post-takedown shard build must not re-pack forgotten text")
      // purge: physically gone, tombstones retired
      Erasure.purgeEverywhere(spark, Seq(Erasure.KeptStore(st.kept)),
        "doc_id", newBatchId = 51L)
      assert(BatchStore.read(spark, st.kept)
        .filter(col("doc_id") === victim).count() == 0)
      assert(Tombstones.batches(spark, st.kept).isEmpty)
    }
  }

  test("ledger committed but kept missing (crash window): retry skips the ledger and still commits kept") {
    withBase(ledger = true) { (st, gates) =>
      val slice = docs.filter(col("doc_id") % 3 === 0)
      CP.processSlice(spark, st, gates, slice, "doc_id", "source", "text", 1L)
      val fs = new org.apache.hadoop.fs.Path(st.kept)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val cleanKept = keptIds(st)
      // simulate: the crash happened between the ledger commit and the
      // kept commit — delete the kept batch, leave ledger + signatures
      fs.delete(new org.apache.hadoop.fs.Path(st.kept, "batch=1"), true)
      CP.processSlice(spark, st, gates, slice, "doc_id", "source", "text", 1L)
      assert(fs.exists(new org.apache.hadoop.fs.Path(st.kept, "batch=1")),
        "retry must re-commit the kept batch")
      // the retry must NOT dedup the slice against its OWN committed
      // signatures — the re-committed batch carries the full survivor
      // set, not an empty frame (the silent-loss crash-window bug)
      assert(keptIds(st) == cleanKept && cleanKept.nonEmpty,
        s"retry must re-commit the full survivors: ${keptIds(st)} vs $cleanKept")
      assert(BatchStore.read(spark, st.ledger.get).count() == 20,
        "retry must not double-commit the ledger")
    }
  }

  test("crash between the signature commit and the kept commit: retry completes without failing") {
    withBase() { (st, gates) =>
      CP.processSlice(spark, st, gates, docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "source", "text", batchId = 1L)
      // simulate the crash window for epoch 2: signatures committed,
      // kept batch missing
      val slice2 = docs.filter(col("doc_id") % 3 === 1)
      val stripped = Boilerplate.stripRepeatedLinesFromStore(spark,
        st.lineDf, slice2.withColumn("text", Boilerplate.stripMarkup(col("text"))),
        "doc_id", "source", "text", gates.minDf)
      Dedup.writeSignatureStore(stripped, "doc_id", "text", k = 4,
        shingleN = 3, root = st.signatures, batchId = 2L)
      // retry must no-op the signature write and still commit kept —
      // and must NOT dedup the slice against its own pre-committed
      // signatures (the silent-loss crash window): batch=2 carries
      // epoch 1's real survivors
      CP.processSlice(spark, st, gates, slice2, "doc_id", "source", "text",
        batchId = 2L)
      val batch2 = BatchStore.read(spark, st.kept)
        .filter(col("batch") === 2).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(batch2.nonEmpty && batch2.contains(1L),
        s"retry must commit epoch 1's survivors, got $batch2")
    }
  }
}
