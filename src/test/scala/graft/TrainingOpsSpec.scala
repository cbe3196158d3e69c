package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Unit semantics for the training-data operators (dedup, similarity,
  * text analysis, multimodal plumbing). */
class TrainingOpsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.001"

  test("exactGroups: keeper is min id, dupes counted") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(df, "doc_id", "text").collect()
    val aaa = g.filter(_.getAs[Long]("doc_id") != 2L)
    assert(aaa.forall(_.getAs[Long]("keeper_id") == 1L))
    assert(aaa.forall(_.getAs[Long]("group_size") == 3L))
  }

  test("minhash LSH pairs are a subset of exhaustive jaccard pairs, high recall") {
    val docs = Tables.documents(spark, sf001).withColumn("b", lit(1))
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, Seq("b"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 3, 8, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(truth), "LSH pairs must pass the exact-jaccard verifier")
    if (truth.nonEmpty)
      assert(lsh.size.toDouble / truth.size >= 0.8,
        s"LSH recall ${lsh.size}/${truth.size} below 0.8")
  }

  test("identical texts get identical simhash; different texts differ") {
    val df = Seq(
      (1L, "spark makes big data small again and again"),
      (2L, "spark makes big data small again and again"),
      (3L, "an entirely different sentence about storage engines"))
      .toDF("doc_id", "text")
    val sk = Dedup.simhash(df, "doc_id", "text", 32).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sk(1L) == sk(2L))
    assert(sk(1L) != sk(3L))
  }

  test("simhash hamming distance via built-in bit_count") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    val sk = Dedup.simhash(df, "doc_id", "text", 32)
    val d = sk.as("a").join(sk.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .collect().head.getAs[Int]("hamming")
    assert(d >= 0 && d <= 8, s"near-identical docs should be hamming-close, got $d")
  }

  test("bruteForceTopK ranks a duplicated vector first with cosine ~1") {
    val e = Tables.embeddings(spark, sf001)
    val dup = e.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(100000L))
    val corpus = e.unionByName(dup)
    val top = Similarity.bruteForceTopK(corpus, e.filter(col("vec_id") === 0),
      "vec_id", "embedding", 3).collect()
    assert(top.head.getAs[Long]("neighbor_id") == 100000L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-12)
    val cs = top.map(_.getAs[Double]("cosine"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
  }

  test("bucketedTopK never crosses buckets") {
    val e = Tables.embeddings(spark, sf001)
    val out = Similarity.bucketedTopK(e, e.filter(col("vec_id") < 20),
      "vec_id", "embedding", "label", 3)
    val joined = out.join(e.select(col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label")), Seq("neighbor_id"))
    assert(joined.filter(col("label") =!= col("neighbor_label")).count() == 0)
  }

  test("ivfAssign: centroids assign to themselves with cosine ~1") {
    val e = Tables.embeddings(spark, sf001)
    val cents = e.filter(col("vec_id") < 8)
    val assigned = Similarity.ivfAssign(e, cents, "vec_id", "embedding")
    val self = assigned.filter(col("vec_id") < 8)
      .select("vec_id", "centroid_id", "centroid_cosine").collect()
    assert(self.forall(r => r.getLong(0) == r.getLong(1)), self.mkString(", "))
    assert(self.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-12))
    // assignment is total: every vector lands in exactly one bucket
    assert(assigned.count() == e.count())
    assert(assigned.filter(col("centroid_id") < 0).count() == 0)
  }

  test("ivfTopK probing ALL buckets equals brute force exactly") {
    // the invariant that holds for any fixture: with nProbe = K every
    // inverted list is searched, so multi-probe IVF degenerates to the
    // exact search — same k, same (cosine desc, id) tie rule.
    val e = Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "cosine")
        .collect().map(_.toSeq).toSet
    val ivf = rows(Similarity.ivfTopK(e, queries, e.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 3, nProbe = 8))
    val brute = rows(Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 3))
    assert(ivf == brute)
    assert(ivf.nonEmpty)
  }

  test("approx count-distinct stays within 3x rsd of the exact count") {
    // q57 folds the HLL estimate into a bound check against the exact
    // count (computed in the same query); here we pin that the bound
    // holds per group AND that exact_users matches an independent
    // recompute.
    val rows = SparkEntry.queries("q57_approx_distinct")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_3rsd"), s"${r.getString(0)}: estimate outside 3*rsd")
    }
    val exact = Tables.events(spark, sf001).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_users") == exact(r.getString(0)))
    }
  }

  test("connectedComponents labels transitive clusters by min id") {
    // two chains and a clique: {1,2,3,4} via chain, {10,11,12} via
    // clique edges, pair order/direction mixed on purpose
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (11L, 10L), (10L, 12L), (12L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("connectedComponents converges on a long chain and fails fast past maxRounds") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L) && got.size == 12)
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxRounds = 1).collect()
    }
  }

  test("flagContaminated flags exactly the docs sharing an n-gram with eval") {
    val train = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "completely unrelated training content here"),
      (3L, "short doc"), // too short to trigram: never contaminated
      (4L, "we said the quick brown dog")) // shares "the quick brown"
      .toDF("doc_id", "text")
    val eval = Seq((100L, "watch the quick brown fox run")).toDF("doc_id", "text")
    val got = operators.Decontaminate.flagContaminated(train, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_contaminated")).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
    // re-flagging an already-flagged frame fails fast instead of
    // emitting a duplicate/ambiguous is_contaminated column
    val flagged = operators.Decontaminate.flagContaminated(train, eval, "doc_id", "text", n = 3)
    intercept[IllegalArgumentException] {
      operators.Decontaminate.flagContaminated(flagged, eval, "doc_id", "text", n = 3)
    }
    // idCol colliding with the internal gram columns fails fast too
    intercept[IllegalArgumentException] {
      operators.Decontaminate.flagContaminated(
        train.withColumnRenamed("doc_id", "g"), eval, "g", "text", n = 3)
    }
  }

  test("repetitionStats catches degenerate repetition") {
    val df = Seq(
      (1L, "buy now buy now buy now"),
      (2L, "all words here are different"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_tokens") == 6 &&
      got(1L).getAs[Long]("n_distinct") == 2 &&
      got(1L).getAs[Long]("top_token_count") == 3)
    assert(got(1L).getAs[Double]("top_token_frac") == 0.5)
    assert(got(2L).getAs[Long]("top_token_count") == 1 &&
      got(2L).getAs[Double]("distinct_ratio") == 1.0)
    assert(got(3L).getAs[Long]("n_tokens") == 0 && got(3L).isNullAt(4))
  }

  test("mixtureWeights: sqrt smoothing normalizes and compresses the mix") {
    val df = (1 to 90).map(i => (i, "big")) ++ (1 to 10).map(i => (i, "small"))
    val got = operators.Sampling.mixtureWeights(df.toDF("id", "src"), "src")
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    val wBig = got("big").getAs[Double]("weight")
    val wSmall = got("small").getAs[Double]("weight")
    assert(math.abs(wBig + wSmall - 1.0) < 1e-12)
    // smoothing: small source gets MORE than its 10% share, big less than 90%
    assert(wSmall > 0.1 && wBig < 0.9 && wBig > wSmall)
  }

  test("q63: the five stage counts partition n_train exactly") {
    val rows = SparkEntry.queries("q63_curation_pipeline")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val parts = Seq("n_exact_dup", "n_near_dup", "n_contaminated",
        "n_low_quality", "n_kept").map(r.getAs[Long](_)).sum
      assert(parts == r.getAs[Long]("n_train"),
        s"${r.getAs[String]("lang")}: $parts != ${r.getAs[Long]("n_train")}")
    }
  }

  test("fingerprint is invariant to case and punctuation") {
    val df = Seq(
      (1L, "Hello, World! This is Spark."),
      (2L, "hello world  this is spark"),
      (3L, "hello world this is flink"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("langId picks evidence-backed language, und on none") {
    val df = Seq(
      (1L, "the cat and the dog is in a house"),
      (2L, "der hund und die katze ist nicht hier"),
      (3L, "zzz qqq xxx www")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("asOf lastCarriedForward carries the last non-null observation") {
    val df = Seq(
      (7L, 1L, Some(10.0)), (7L, 2L, None), (7L, 3L, Some(30.0)), (7L, 4L, None),
      (8L, 1L, None)).toDF("k", "seq", "v")
    val out = operators.AsOf.lastCarriedForward(df, Seq("k"), Seq(col("seq")), col("v"), "carried")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.get(3))).toMap
    assert(out((7L, 1L)).contains(10.0))
    assert(out((7L, 2L)).contains(10.0))
    assert(out((7L, 3L)).contains(30.0))
    assert(out((7L, 4L)).contains(30.0))
    assert(out((8L, 1L)).isEmpty)
  }

  test("decodeStub keeps payload bytes and deterministic metadata") {
    val docs = Seq((3L, "abc"), (4L, "abcd")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs, "doc_id", "text")
    val feats = Multimodal.decodeStub(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(3L).kind == "image" && feats(3L).n_bytes == 3L)
    assert(feats(4L).kind == "audio" && feats(4L).width == 4 % 640)
    assert(feats(3L).frames == 1)
  }

  test("image payloads decode to their REAL pixel dimensions via ImageIO") {
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val media = Seq(
      (1L, "image", png(17, 23)),
      (2L, "image", png(640, 1)),
      (3L, "image", "not an image at all".getBytes("UTF-8")),
      // "BM" magic: the JDK BMP reader CLAIMS these bytes then throws a
      // RuntimeException parsing garbage header ints — must fall back,
      // not kill the task
      (5L, "image", "BMW is a carmaker, not a bitmap".getBytes("UTF-8")),
      (4L, "audio", png(9, 9))) // wrong kind: decode must not even be tried
      .toDF("media_id", "kind", "payload")
    val feats = Multimodal.decodeStub(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).width == 17 && feats(1L).height == 23 && feats(1L).frames == 1)
    assert(feats(2L).width == 640 && feats(2L).height == 1)
    // undecodable image bytes fall back to the deterministic stub
    val n3 = feats(3L).n_bytes
    assert(feats(3L).width == (n3 % 640).toInt && feats(3L).height == (n3 % 480).toInt)
    val n5 = feats(5L).n_bytes
    assert(feats(5L).width == (n5 % 640).toInt && feats(5L).height == (n5 % 480).toInt)
    // audio kind never decodes, even when the bytes ARE a valid png
    val n4 = feats(4L).n_bytes
    assert(feats(4L).width == (n4 % 640).toInt)
  }

  test("image dimensions beyond the cap take the stub path (header-only probe)") {
    // A real PNG whose header declares a dimension past MaxImageDim
    // (16384): the probe must read the header only — never allocate
    // the 20000-wide pixel buffer ImageIO.read would — and, because
    // headers are attacker-controlled, refuse the implausible claim.
    val img = new java.awt.image.BufferedImage(
      20000, 1, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val media = Seq((1L, "image", out.toByteArray)).toDF("media_id", "kind", "payload")
    val f = Multimodal.decodeStub(spark, media).collect().head
    assert(f.width == (f.n_bytes % 640).toInt && f.height == (f.n_bytes % 480).toInt)
  }
}
