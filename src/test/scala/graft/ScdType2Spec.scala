package graft

import java.time.LocalDate

import org.apache.spark.sql.functions.{col, lit, to_date}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ScdType2

/** SCD2 branch semantics per FIXTURES.md §3 /
  * `/root/reference/python/scd_implementation.py:16-100`. */
class ScdType2Spec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)
  import spark.implicits._

  private val attrs = Seq("name", "address")
  private val tracked = Seq("address")
  private val d1 = LocalDate.parse("2024-06-01")
  private val d2 = LocalDate.parse("2024-07-01")

  private def snap(rows: (String, String, String)*) =
    rows.toDF("id", "name", "address")

  test("duplicate business id in the snapshot fails loudly (in-plan guard)") {
    val dup = snap(("a", "Ann", "1 Main"), ("a", "Ann2", "2 Oak"), ("b", "Bob", "3 Elm"))
    val ex = intercept[Exception] {
      ScdType2(dup, None, "id", attrs, tracked, "sk", d1).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("duplicate business id")), ex.toString)
  }

  test("first run stamps version 1, current, effective=asOf") {
    val out = ScdType2(snap(("b", "Bob", "1 Main"), ("a", "Ann", "2 Oak")),
      None, "id", attrs, tracked, "sk", d1).collect()
    assert(out.length == 2)
    // deterministic re-key: ordered by (id, version)
    assert(out.map(_.getAs[Long]("sk")).toSeq == Seq(0L, 1L))
    assert(out.map(_.getAs[String]("id")).toSeq == Seq("a", "b"))
    assert(out.forall(r => r.getAs[Long]("version") == 1L))
    assert(out.forall(r => r.getAs[Boolean]("is_current")))
    assert(out.forall(r => r.getAs[java.sql.Date]("effective_date").toString == "2024-06-01"))
    assert(out.forall(r => r.getAs[java.sql.Date]("expiry_date") == null))
  }

  test("an empty prior gives exactly the first-run rows and keys") {
    val rows = snap(("b", "Bob", "1 Main"), ("a", "Ann", "2 Oak"), ("c", "Cal", "5 Pine"))
    val firstRun = ScdType2(rows, None, "id", attrs, tracked, "sk", d2)
    val emptyPrior = ScdType2(snap(("z", "Zed", "0 Nil")), None, "id", attrs,
      tracked, "sk", d1).filter(lit(false))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val want = sorted(firstRun)
    assert(want.size == 3)
    for (pruned <- Seq(false, true)) {
      val got = ScdType2(rows, Some(emptyPrior), "id", attrs, tracked, "sk", d2,
        changedOnly = pruned)
      // same columns and types; nullability is the diff path's, as
      // for any non-empty prior
      assert(got.schema.map(f => f.name -> f.dataType) ==
        firstRun.schema.map(f => f.name -> f.dataType), s"changedOnly=$pruned")
      assert(sorted(got) == want, s"changedOnly=$pruned")
    }
  }

  private def secondRun(newSnap: org.apache.spark.sql.DataFrame) = {
    val first = ScdType2(snap(("a", "Ann", "2 Oak"), ("b", "Bob", "1 Main")),
      None, "id", attrs, tracked, "sk", d1)
    ScdType2(newSnap, Some(first), "id", attrs, tracked, "sk", d2)
  }

  test("tracked change expires old row and emits version 2") {
    val out = secondRun(snap(("a", "Ann", "9 New"), ("b", "Bob", "1 Main")))
      .collect().sortBy(_.getAs[Long]("sk"))
    assert(out.length == 3)
    val a = out.filter(_.getAs[String]("id") == "a")
    assert(a.map(r => (r.getAs[Long]("version"), r.getAs[Boolean]("is_current"))).toSeq ==
      Seq((1L, false), (2L, true)))
    val expired = a.head
    assert(expired.getAs[java.sql.Date]("expiry_date").toString == "2024-06-30")
    assert(a(1).getAs[String]("address") == "9 New")
    assert(a(1).getAs[java.sql.Date]("effective_date").toString == "2024-07-01")
  }

  test("changedOnly prune is output-identical to the full diff") {
    // a batch exercising every class: changed (a), unchanged-but-
    // present (b), brand-new (d); c disappears and must be retained
    val first = ScdType2(
      snap(("a", "Ann", "2 Oak"), ("b", "Bob", "1 Main"), ("c", "Cal", "5 Pine")),
      None, "id", attrs, tracked, "sk", d1)
    val batch = snap(("a", "Ann", "9 New"), ("b", "Bob", "1 Main"),
      ("d", "Dee", "7 Ash"))
    def run(pruned: Boolean) =
      ScdType2(batch, Some(first), "id", attrs, tracked, "sk", d2,
        changedOnly = pruned).collect().map(_.toString).sorted.toSeq
    assert(run(pruned = true) == run(pruned = false))

    // and the CDC shape: feeding ONLY changed+new rows equals the full
    // whole-snapshot rerun (absent ids are retained unchanged)
    val cdcBatch = snap(("a", "Ann", "9 New"), ("d", "Dee", "7 Ash"))
    val viaCdc = ScdType2(cdcBatch, Some(first), "id", attrs, tracked, "sk",
      d2, changedOnly = true).collect().map(_.toString).sorted.toSeq
    assert(viaCdc == run(pruned = false))
  }

  test("the diff branch gives the same rows on the one-task and the dimension-scale re-key, either changedOnly") {
    val d3 = LocalDate.parse("2024-08-01")
    val first = ScdType2(snap(("a", "Ann", "2 Oak"), ("b", "Bob", "1 Main"),
      ("c", "Cal", "5 Pine"), ("e", "Eve", "4 Elm")), None, "id", attrs, tracked, "sk", d1)
    // a's first change leaves expired history in the prior
    val prior = ScdType2(snap(("a", "Ann", "9 New"), ("b", "Bob", "1 Main"),
      ("c", "Cal", "5 Pine"), ("e", "Eve", "4 Elm")), Some(first), "id", attrs, tracked, "sk", d2)
    // a: tracked change; b: untracked change; c: disappears; d: new; e: unchanged
    val batch = snap(("a", "Ann", "11 Fir"), ("b", "Bobby", "1 Main"),
      ("d", "Dee", "7 Ash"), ("e", "Eve", "4 Elm"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val threshold = spark.conf.get(key)
    def run(broadcast: Boolean, pruned: Boolean) = {
      // -1 turns the size gate off: the re-key takes the dimension-scale path
      spark.conf.set(key, if (broadcast) threshold else "-1")
      try ScdType2(batch, Some(prior), "id", attrs, tracked, "sk", d3, changedOnly = pruned)
        .collect().map(r => (r.getAs[Long]("sk"), r.getAs[String]("id"), r.getAs[String]("name"),
          r.getAs[String]("address"), r.getAs[Long]("version"), r.getAs[Boolean]("is_current"),
          String.valueOf(r.getAs[java.sql.Date]("expiry_date"))))
        .sortBy(_._1).toSeq
      finally spark.conf.set(key, threshold)
    }
    val want = run(broadcast = true, pruned = false)
    assert(want == Seq(
      (0L, "a", "Ann", "2 Oak", 1L, false, "2024-06-30"),
      (1L, "a", "Ann", "9 New", 2L, false, "2024-07-31"),
      (2L, "a", "Ann", "11 Fir", 3L, true, "null"),
      (3L, "b", "Bob", "1 Main", 1L, true, "null"),
      (4L, "c", "Cal", "5 Pine", 1L, true, "null"),
      (5L, "d", "Dee", "7 Ash", 1L, true, "null"),
      (6L, "e", "Eve", "4 Elm", 1L, true, "null")), s"got $want")
    for (broadcast <- Seq(true, false); pruned <- Seq(false, true))
      assert(run(broadcast, pruned) == want, s"broadcast=$broadcast changedOnly=$pruned")
  }

  test("untracked change (name only) does not version") {
    val out = secondRun(snap(("a", "Annie", "2 Oak"), ("b", "Bob", "1 Main"))).collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Long]("version") == 1L))
    // unchanged rows keep the OLD attribute values (reference keeps
    // existing rows verbatim, scd_implementation.py:82-86)
    assert(out.filter(_.getAs[String]("id") == "a").head.getAs[String]("name") == "Ann")
  }

  test("null-to-value tracked change counts as change (fillna-'' compare)") {
    val first = ScdType2(Seq(("a", "Ann", null: String)).toDF("id", "name", "address"),
      None, "id", attrs, tracked, "sk", d1)
    val out = ScdType2(snap(("a", "Ann", "X")), Some(first), "id", attrs,
      tracked, "sk", d2).collect()
    assert(out.length == 2)
  }

  test("null-to-empty-string is NOT a change (fillna-'' semantics)") {
    val first = ScdType2(Seq(("a", "Ann", null: String)).toDF("id", "name", "address"),
      None, "id", attrs, tracked, "sk", d1)
    val out = ScdType2(snap(("a", "Ann", "")), Some(first), "id", attrs,
      tracked, "sk", d2).collect()
    assert(out.length == 1 && out.head.getAs[Long]("version") == 1L)
  }

  test("brand-new id gets version 1; disappeared id is retained") {
    val out = secondRun(snap(("a", "Ann", "2 Oak"), ("c", "Cam", "3 Elm")))
      .collect().sortBy(_.getAs[Long]("sk"))
    assert(out.length == 3) // a unchanged, b retained, c new
    val c = out.filter(_.getAs[String]("id") == "c").head
    assert(c.getAs[Long]("version") == 1L && c.getAs[Boolean]("is_current"))
    assert(c.getAs[java.sql.Date]("effective_date").toString == "2024-07-01")
    val b = out.filter(_.getAs[String]("id") == "b").head
    assert(b.getAs[Boolean]("is_current") && b.getAs[Long]("version") == 1L)
  }

  test("expired history flows through later runs untouched") {
    val first = ScdType2(snap(("a", "Ann", "2 Oak")), None, "id", attrs, tracked, "sk", d1)
    val second = ScdType2(snap(("a", "Ann", "9 New")), Some(first), "id", attrs, tracked, "sk", d2)
    val third = ScdType2(snap(("a", "Ann", "9 New")), Some(second), "id", attrs,
      tracked, "sk", LocalDate.parse("2024-08-01"))
    val rows = third.collect().sortBy(_.getAs[Long]("version"))
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Boolean]("is_current")).toSeq == Seq(false, true))
    // exactly one current row per id — the core SCD2 invariant
    assert(rows.count(_.getAs[Boolean]("is_current")) == 1)
  }

  test("pointInTimeLookup: each fact sees the version valid at ITS date, at most once") {
    import spark.implicits._
    val first = ScdType2(snap(("a", "Ann", "2 Oak"), ("b", "Bob", "3 Elm")),
      None, "id", attrs, tracked, "sk", d1)
    val dim = ScdType2(snap(("a", "Ann", "9 New"), ("b", "Bob", "3 Elm")),
      Some(first), "id", attrs, tracked, "sk", d2)
    val facts = Seq(
      ("a", "2024-05-15", 1L), // before any version: drops
      ("a", "2024-06-01", 2L), // v1 effective boundary
      ("a", "2024-06-30", 3L), // v1 expiry boundary
      ("a", "2024-07-01", 4L), // v2 effective boundary
      ("a", "2024-12-25", 5L), // open-ended current
      ("b", "2024-07-15", 6L), // unchanged id: v1 still current
      ("z", "2024-07-15", 7L)) // unknown key: drops
      .toDF("id", "d", "fact_id")
      .select(col("id"), to_date(col("d")).as("fdate"), col("fact_id"))
    val got = ScdType2.pointInTimeLookup(facts, dim, "id", "fdate")
      .select(col("fact_id"), col("address"), col("version"))
      .as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (2L, "2 Oak", 1L), (3L, "2 Oak", 1L),
      (4L, "9 New", 2L), (5L, "9 New", 2L),
      (6L, "3 Elm", 1L)), s"got $got")
    // uniqueness: no fact matched twice
    assert(got.map(_._1).distinct.size == got.size)
  }
}
