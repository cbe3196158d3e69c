package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Tokenizer

/** Unit semantics for the tokenizer-training operators: BPE pair
  * counts, vocabulary OOV coverage, and co-occurrence lift.
  */
class TokenizerSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  import spark.implicits._

  // ------------------------------------------------------- pairs

  test("topPairs counts adjacent pairs and tie-breaks by pair string") {
    val df = Seq(
      (1L, "a b a b c"), // pairs: "a b", "b a", "a b", "b c"
      (2L, "b c"),       // pairs: "b c"
      (3L, "x"),         // no pairs
      (4L, "")           // no pairs
    ).toDF("doc_id", "text")
    val got = Tokenizer.topPairs(df, "text", k = 10).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n_pairs"))).toSeq
    // "a b" and "b c" both occur 2×: tie broken by pair string.
    assert(got == Seq(("a b", 2L), ("b c", 2L), ("b a", 1L)))
  }

  test("adjacent pairs preserve multiplicity inside one document") {
    val df = Seq((1L, "x x x x")).toDF("doc_id", "text")
    val got = Tokenizer.pairCounts(df, "text").collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("pair") == "x x")
    assert(got.head.getAs[Long]("n_pairs") == 3L)
  }

  // ---------------------------------------------------- coverage

  test("vocabCoverage counts occurrences outside the capped vocab") {
    // token frequencies: a=4, b=3, c=2, d=1 → vocab(2) = {a, b}
    val df = Seq(
      (1L, "en", "a a b c"),
      (2L, "en", "a b c d"),
      (3L, "de", "a b")).toDF("doc_id", "lang", "text")
    val got = Tokenizer.vocabCoverage(df, "text", Seq("lang"), vocabSize = 2)
      .orderBy("lang").collect()
    val de = got(0); val en = got(1)
    assert(de.getAs[Long]("n_tokens") == 2L && de.getAs[Long]("n_oov") == 0L)
    assert(de.getAs[Double]("oov_rate") == 0.0)
    assert(en.getAs[Long]("n_tokens") == 8L && en.getAs[Long]("n_oov") == 3L)
    assert(en.getAs[Double]("oov_rate") == 3.0 / 8.0)
  }

  test("vocabulary cap tie-breaks deterministically by token") {
    // b and c tie at 2 occurrences; vocab(2) must be {a, b} (not c).
    val df = Seq((1L, "a a a b b c c")).toDF("doc_id", "text")
    val v = Tokenizer.vocabulary(df, "text", vocabSize = 2).collect()
      .map(_.getAs[String]("token")).toSeq
    assert(v == Seq("a", "b"))
  }

  // ---------------------------------------------------------- lift

  test("cooccurrenceLift computes exact rational lift per doc-level pair") {
    // 4 docs; vocab(3) by df: a (df 3), b (df 2), c (df 2).
    val df = Seq(
      (1L, "a b"),
      (2L, "a b c"),
      (3L, "a c x"),
      (4L, "y")).toDF("doc_id", "text")
    val got = Tokenizer.cooccurrenceLift(df, "doc_id", "text", vocabSize = 3)
      .orderBy("token_a", "token_b").collect()
      .map(r => (r.getAs[String]("token_a"), r.getAs[String]("token_b"),
        r.getAs[Long]("n_both"), r.getAs[Double]("lift"))).toSeq
    // (a,b): both in docs 1,2 → n=2, lift = 2*4/(3*2) = 4/3
    // (a,c): both in docs 2,3 → n=2, lift = 2*4/(3*2) = 4/3
    // (b,c): both in doc 2   → n=1, lift = 1*4/(2*2) = 1
    assert(got == Seq(
      ("a", "b", 2L, 8.0 / 6.0),
      ("a", "c", 2L, 8.0 / 6.0),
      ("b", "c", 1L, 1.0)))
  }

  test("cooccurrenceLift: docs with fewer than two vocab tokens emit no pairs") {
    val df = Seq(
      (1L, "a"), (2L, "b"), (3L, ""), (4L, "z z z")).toDF("doc_id", "text")
    // vocab(2) = {z, a} or {a, b}? dfs: a=1, b=1, z=1 → tie-break: a, b.
    val got = Tokenizer.cooccurrenceLift(df, "doc_id", "text", vocabSize = 2)
    assert(got.count() == 0L)
  }

  test("cooccurrenceLift counts a co-occurring pair once per document") {
    val df = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val got = Tokenizer.cooccurrenceLift(df, "doc_id", "text", vocabSize = 2).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("n_both") == 1L)
    assert(got.head.getAs[Long]("df_a") == 1L && got.head.getAs[Long]("df_b") == 1L)
    assert(got.head.getAs[Double]("lift") == 1.0)
  }

  // ------------------------------------------------------- sparse dot

  test("tokenDotTopK: tf-weighted dots via the inverted index, ordered desc then by pair") {
    val df = Seq(
      (1L, "a a b"), // shares a(tf2·1) + b(1·1) with doc 2 → dot 3
      (2L, "a b c"), // shares c(1·3) with doc 3 → dot 3
      (3L, "c c c")  // no tokens shared with doc 1
    ).toDF("doc_id", "text")
    val got = Tokenizer.tokenDotTopK(df, "doc_id", "text", maxDf = 3, k = 10)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dot"))).toSeq
    // dot ties (3, 3) break on the (a, b) pair
    assert(got == Seq((1L, 2L, 3L), (2L, 3L, 3L)))
  }

  test("tokenDotTopK: the df prune drops hot tokens before pair generation") {
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a")).toDF("doc_id", "text")
    // a has df 3, b has df 2: maxDf = 2 keeps only b → single pair
    val got = Tokenizer.tokenDotTopK(df, "doc_id", "text", maxDf = 2, k = 10)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dot"))).toSeq
    assert(got == Seq((1L, 2L, 1L)))
    // and pruning everything yields an empty (not failing) result
    assert(Tokenizer.tokenDotTopK(df, "doc_id", "text", maxDf = 1, k = 10)
      .count() == 0L)
  }

  test("tokenDotTopKRelative: fractional df cap equals the absolute form at the same corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val frac = 0.7
    val abs = Tokenizer.tokenDotTopK(docs, "doc_id", "text",
      maxDf = math.floor(frac * n).toInt, k = 10).collect().toSeq
    val rel = Tokenizer.tokenDotTopKRelative(docs, "doc_id", "text",
      maxDfFraction = frac, k = 10).collect().toSeq
    assert(rel == abs && rel.nonEmpty)
    intercept[IllegalArgumentException] {
      Tokenizer.tokenDotTopKRelative(docs, "doc_id", "text", 1.5, 10)
    }
  }
}
