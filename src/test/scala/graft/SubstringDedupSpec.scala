package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Substring-level dedup ([[Dedup.substringDupSpans]]): duplicated
  * n-gram span coverage per document. Hand-computed fixtures pin the
  * cross-document requirement, within-doc repetition counting, and
  * the interval merge; invariants run over the real corpus. */
class SubstringDedupSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  import spark.implicits._

  private def run(rows: Seq[(Long, String)], n: Int) =
    Dedup.substringDupSpans(rows.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Long]("n_dup_grams"),
          r.getAs[Long]("covered_tokens"), r.getAs[Double]("dup_fraction"))))
      .toMap

  test("overlapping windows merge; disjoint windows add; cross-doc only") {
    val m = run(Seq(
      1L -> "a b c d e f",          // shares abc, bcd with doc 2
      2L -> "x a b c d y",
      3L -> "p q r s",              // nothing shared
      4L -> "a b c a b c a b c"),   // abc cross-doc; bca/cab only here
      n = 3)
    // doc 1: dup grams at pos 0,1 -> [0,2]+[1,3] merge to 4 tokens
    assert(m(1L) == ((6, 2L, 4L, 4.0 / 6)))
    // doc 2: dup grams at pos 1,2 -> [1,3]+[2,4] merge to 4 tokens
    assert(m(2L) == ((6, 2L, 4L, 4.0 / 6)))
    assert(m(3L) == ((4, 0L, 0L, 0.0)))
    // doc 4: only 'a b c' is cross-doc duplicated ('b c a'/'c a b'
    // repeat within doc 4 alone and must NOT count); occurrences at
    // pos 0,3,6 are disjoint -> all 9 tokens covered
    assert(m(4L) == ((9, 3L, 9L, 1.0)))
  }

  test("docs shorter than the gram size report zeros") {
    val m = run(Seq(1L -> "a b", 2L -> "a b", 3L -> "a b c"), n = 3)
    assert(m(1L) == ((2, 0L, 0L, 0.0)))
    assert(m(2L) == ((2, 0L, 0L, 0.0)))
    assert(m(3L) == ((3, 0L, 0L, 0.0)))
  }

  test("identical docs are fully covered") {
    val m = run(Seq(1L -> "q w e r t", 2L -> "q w e r t"), n = 5)
    assert(m(1L) == ((5, 1L, 5L, 1.0)))
    assert(m(2L) == ((5, 1L, 5L, 1.0)))
  }

  test("matches a brute-force reference on seeded random corpora") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n = 3
      val docs = (1L to 25L).map { id =>
        val len = rnd.nextInt(13) // 0..12 tokens from a 6-word alphabet
        id -> Seq.fill(len)(s"t${rnd.nextInt(6)}").mkString(" ")
      }
      // reference: gram STRING -> owning docs; then per-doc interval merge
      val grams = docs.map { case (id, text) =>
        id -> text.split("\\s+").filter(_.nonEmpty).sliding(n).toSeq
          .filter(_.length == n).map(_.mkString(" "))
      }.toMap
      val owners = grams.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
        .groupMap(_._1)(_._2).view.mapValues(_.distinct.size).toMap
      val expect = docs.map { case (id, text) =>
        val gs = grams(id)
        val dupPos = gs.zipWithIndex.collect {
          case (g, p) if owners(g) > 1 => p }
        val covered = dupPos.foldLeft((0L, -1)) { case ((acc, hi), p) =>
          (acc + math.max(0, p + n - 1 - math.max(hi, p - 1)), math.max(hi, p + n - 1))
        }._1
        id -> ((text.split("\\s+").count(_.nonEmpty), dupPos.size.toLong, covered))
      }.toMap
      val got = run(docs, n)
      expect.foreach { case (id, (nt, nd, cov)) =>
        val (gnt, gnd, gcov, _) = got(id)
        assert((gnt, gnd, gcov) == ((nt, nd, cov)),
          s"seed=$seed doc=$id expect ($nt,$nd,$cov) got ($gnt,$gnd,$gcov)")
      }
    }
  }

  test("corpus invariants: coverage bounded, zero-dup consistency") {
    val out = Dedup.substringDupSpans(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text", 5)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nt, nd, cov, fr) = (r.getAs[Int]("n_tokens"),
        r.getAs[Long]("n_dup_grams"), r.getAs[Long]("covered_tokens"),
        r.getAs[Double]("dup_fraction"))
      assert(cov <= nt, s"covered $cov > n_tokens $nt")
      assert(fr >= 0.0 && fr <= 1.0)
      assert((nd == 0L) == (cov == 0L), "dup grams and coverage must agree")
      if (nd > 0) assert(cov >= 5L, "any dup gram covers at least gramN tokens")
    }
    assert(out.exists(_.getAs[Long]("n_dup_grams") > 0),
      "fixture corpus should contain duplicated spans")
  }
}
