package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DataQuality

class DataQualitySpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  import spark.implicits._

  test("nullProfile counts per column in one pass") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None))
      .toDF("x", "y")
    val p = DataQuality.nullProfile(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(p("x") == (3L, 1L))
    assert(p("y") == (3L, 1L))
  }

  test("domainViolations excludes nulls, flags out-of-domain") {
    val df = Seq("Paid", "Denied", "WAT", null).toDF("status")
    val v = DataQuality.domainViolations(df, "status", Seq("Paid", "Denied"))
      .collect().map(_.getString(0))
    assert(v.toSeq == Seq("WAT"))
  }

  test("orphans finds fact keys missing from the dimension") {
    val fact = Seq(1L, 2L, 5L).toDF("k")
    val dim = Seq(1L, 2L, 3L).toDF("id")
    val o = DataQuality.orphans(fact, dim, "k", "id").collect().map(_.getLong(0))
    assert(o.toSeq == Seq(5L))
  }

  test("duplicateStats on the RCM claims natural key") {
    val df = Seq(("c1", "a"), ("c1", "a"), ("c2", "a"), ("c3", "b"))
      .toDF("claim", "src")
    val r = DataQuality.duplicateStats(df, Seq("claim", "src")).collect().head
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("n_distinct_keys") == 3L)
    assert(r.getAs[Long]("n_duplicate_rows") == 1L)
  }
}
