package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Round-15: cross-store erasure composition ([[graft.operators
  * .Erasure]]) — the fan-out writes every store's delta from ONE
  * pinned slice, serves masked immediately, purges physically, and
  * fails fast on misuse (duplicate roots, missing vecIds, replayed
  * batch ids). End-to-end values are oracle-gated in q220. */
class ErasureSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  private def docs = {
    import spark.implicits._
    (0L until 40L).map(i =>
      (i, s"alpha beta tok$i gamma delta", if (i % 2 == 0) "en" else "de",
        s"src${i % 3}")).toDF("doc_id", "text", "lang", "source")
  }

  private def withRoot(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_erasure").toString
    try body(root)
    finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("forget + purgeEverywhere: masked immediately, physically absent after purge, counts net out") {
    withRoot { base =>
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      val stores = Seq[Erasure.StoreRef](
        Erasure.SignatureStore(p("sig")),
        Erasure.PostingStore(p("post")),
        Erasure.LmStore(p("lm")))
      Dedup.writeSignatureStore(docs, "doc_id", "text", k = 4,
        shingleN = 2, root = p("sig"), batchId = 1L)
      InvertedIndex.writePostingStore(docs, "doc_id", "text", p("post"), 1L)
      LanguageModel.writeLmStore(docs, "doc_id", "text", p("lm"), 1L)

      val erased = docs.filter(col("doc_id") % 4 === 0) // 10 docs
      Erasure.forget(erased, "doc_id", "text", stores, batchId = 2L)

      // masked BEFORE purge: tombstone stores anti-join on read
      val maskedSig = Tombstones.apply(spark, p("sig"),
        BatchStore.read(spark, p("sig")), "doc_id")
      assert(maskedSig.count() == 30)
      assert(maskedSig.filter(col("doc_id") % 4 === 0).count() == 0)

      val purged = Erasure.purgeEverywhere(spark, stores, "doc_id",
        newBatchId = 3L)
      assert(purged.size == 3 && purged.forall(_._2 >= 1),
        s"every store had something to fold: $purged")

      // physically absent after purge
      assert(BatchStore.read(spark, p("sig")).count() == 30)
      assert(BatchStore.read(spark, p("post"))
        .filter(col("doc_id") % 4 === 0).count() == 0)
      // LM counts equal a fresh train on the remaining docs
      val remaining = LanguageModel.bigramCounts(
        docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text")
      val stored = BatchStore.read(spark, p("lm"))
      assert(stored.join(remaining, Seq("w1", "w2"))
        .filter(stored("cnt") =!= remaining("cnt")).count() == 0)
      assert(stored.count() == remaining.count())
    }
  }

  test("the HammingStore leg: forget by media id masks the image history; purge drops it physically") {
    import spark.implicits._
    withRoot { base =>
      val root = new org.apache.hadoop.fs.Path(base, "hs").toString
      val hist = Seq((10L, 1, 2, 3, 4), (20L, 5, 6, 7, 8))
        .toDF("media_id", "b0", "b1", "b2", "b3")
      Dedup.writeHammingStore(hist, "media_id",
        Seq("b0", "b1", "b2", "b3"), root, batchId = 1L)
      val stores = Seq[Erasure.StoreRef](Erasure.HammingStore(root))
      // media ids ride the vecIds leg (they are not document ids)
      Erasure.forget(docs.limit(1), "doc_id", "text", stores, batchId = 2L,
        vecIds = Some((Seq(20L).toDF("media_id"), "media_id")))
      val masked = Tombstones.apply(spark, root,
        BatchStore.read(spark, root), "media_id")
      assert(masked.count() == 1)
      val purged = Erasure.purgeEverywhere(spark, stores, "doc_id",
        newBatchId = 3L, vecIdCol = "media_id")
      assert(purged.head._2 >= 1)
      assert(BatchStore.read(spark, root).count() == 1)
    }
  }

  test("misuse fails fast: duplicate roots, missing vecIds, replayed batch id") {
    withRoot { base =>
      def p(n: String) = new org.apache.hadoop.fs.Path(base, n).toString
      val e1 = intercept[IllegalArgumentException] {
        Erasure.forget(docs, "doc_id", "text",
          Seq(Erasure.LmStore(p("x")), Erasure.LmStore(p("x"))), 1L)
      }
      assert(e1.getMessage.contains("duplicate store roots"))
      val e2 = intercept[IllegalArgumentException] {
        Erasure.forget(docs, "doc_id", "text",
          Seq(Erasure.PqStore(p("pq"))), 1L)
      }
      assert(e2.getMessage.contains("vecIds"))
      // replayed batch id: the committed prefix's store fails fast
      Dedup.writeSignatureStore(docs, "doc_id", "text", k = 4,
        shingleN = 2, root = p("sig"), batchId = 1L)
      val stores = Seq[Erasure.StoreRef](Erasure.SignatureStore(p("sig")))
      Erasure.forget(docs.limit(5), "doc_id", "text", stores, batchId = 2L)
      intercept[IllegalArgumentException] {
        Erasure.forget(docs.limit(5), "doc_id", "text", stores, batchId = 2L)
      }
    }
  }

  test("every registered StoreRef kind rides the full-registry takedown gate (q237) — structural, not remembered") {
    // the RegistryCompleteness discipline on the erasure registry: a
    // new StoreRef subclass compiles into Erasure.forget's exhaustive
    // match for free, but NOTHING forces gate coverage — this does.
    // knownDirectSubclasses is reliable here because the whole sealed
    // family lives in Erasure.scala (one compilation unit).
    import scala.reflect.runtime.universe._
    val declared = typeOf[Erasure.StoreRef].typeSymbol.asClass
      .knownDirectSubclasses.map(_.name.toString)
    val gated = graft.queries.ErasureQueries
      .fullRegistry(n => s"/never-read/$n")
      .map(_.getClass.getSimpleName).toSet
    assert(declared.nonEmpty && declared.size >= 14,
      s"sealed-subclass enumeration broke: $declared")
    assert(declared == gated,
      s"StoreRef kinds without q237 coverage: ${declared -- gated}; " +
        s"gated but no longer declared: ${gated -- declared}")
  }

  test("the erasure gate releases its document and codebook pins when a store build throws") {
    import spark.implicits._
    // id-set delta, not a count: the ContextCleaner may async-drop a
    // dead pin from an earlier test between captures
    withRoot { dir =>
      docs.withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$dir/documents.parquet")
      (0L until 40L).map(i => (i, Array.tabulate(64)(j => ((i * 7 + j * 3) % 11).toFloat)))
        .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
      // a store root under a regular FILE cannot be created: that build throws
      val blocker = java.nio.file.Files.createFile(
        java.nio.file.Paths.get(dir, "blocker")).toString
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      intercept[Exception] {
        graft.queries.ErasureQueries.forgetGate(spark, dir, "graft_erasure_leak",
          p => Seq(Erasure.SignatureStore(p("sig")), Erasure.LmStore(p("lm")),
            Erasure.PqStore(p("pq")), Erasure.KeptStore(s"$blocker/kept")))
      }
      val leaked = spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !before.contains(id) }.values
      assert(leaked.isEmpty, "a failed build must not leak the document " +
        s"or codebook pin: ${leaked.map(r => r.toDebugString)}")
    }
  }
}
