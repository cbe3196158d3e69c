package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Packing, Sampling}

/** Seeded randomized invariants for the round-8 curation operators:
  * the distributed prefix sum must equal the naive global window on
  * ARBITRARY id/weight shapes (sparse ids, duplicate weights, zeros,
  * heavy skew), and the group split must be a total, deterministic,
  * partitioning-independent function of the group key.
  */
class Round8PropertySpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  test("contiguousShards == naive global window on arbitrary id/weight shapes") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val n = 50 + rnd.nextInt(400)
      // sparse, non-contiguous, possibly negative-free ids; weights with
      // zeros and heavy skew
      val ids = Iterator.continually(rnd.nextLong(1L << 40)).distinct.take(n).toSeq
      val rows = ids.map { id =>
        val w = rnd.nextInt(4) match {
          case 0 => 0L
          case 1 => rnd.nextLong(10L)
          case 2 => rnd.nextLong(1000L)
          case _ => rnd.nextLong(100000L) // skewed tail
        }
        (id, w)
      }
      val budget = 1L + rnd.nextLong(5000L)
      val buckets = 1 + rnd.nextInt(16)
      val df = rows.toDF("id", "w").repartition(1 + rnd.nextInt(7))
      val got = Packing.contiguousShards(df, "id", col("w"), budget, buckets)
        .orderBy("id").collect()
      val naive = rows.sortBy(_._1)
        .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, w)) => (id, w, cum + w) }
        .drop(1)
        .map { case (id, w, cumAfter) =>
          val before = cumAfter - w
          (id, w, before, before / budget)
        }
      assert(got.length == naive.length, s"seed=$seed")
      got.zip(naive).foreach { case (g, (id, w, off, shard)) =>
        assert(g.getLong(0) == id && g.getLong(1) == w &&
          g.getLong(2) == off && g.getLong(3) == shard,
          s"seed=$seed budget=$budget buckets=$buckets: $g != ($id,$w,$off,$shard)")
      }
    }
  }

  test("groupSplit: total, deterministic, same group always same split") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val nGroups = 5 + rnd.nextInt(50)
      val rows = (1 to (nGroups * 4)).map { i =>
        (i.toLong, s"grp${rnd.nextInt(nGroups)}")
      }
      // random ascending cuts over a random bucket count
      val buckets = 10 + rnd.nextInt(190)
      val c1 = 1 + rnd.nextInt(buckets - 2)
      val c2 = c1 + 1 + rnd.nextInt(buckets - c1 - 1)
      val cuts = Seq(("a", c1), ("b", c2), ("c", buckets))
      def run(parts: Int) = Sampling.groupSplit(
        rows.toDF("id", "g").repartition(parts), col("g"), cuts, buckets)
        .select(col("id"), col("g"), col("split")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)

      val out = run(3)
      // total: every row labeled with a declared cut name
      assert(out.forall(r => Set("a", "b", "c").contains(r._3)), s"seed=$seed")
      // functional in the group key
      val perGroup = out.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
      assert(perGroup.values.forall(_.size == 1),
        s"seed=$seed: a group got two splits")
      // partitioning-independent
      assert(out.toSeq == run(1 + rnd.nextInt(8)).toSeq, s"seed=$seed")
    }
  }

  test("contiguousShards shard ids are non-decreasing in id order, step <= 1 boundary per doc") {
    import spark.implicits._
    val rnd = new Random(42)
    val rows = (1 to 300).map(i => (i.toLong, rnd.nextLong(400L)))
    val out = Packing.contiguousShards(rows.toDF("id", "w"), "id", col("w"),
        budget = 1000L, buckets = 8)
      .orderBy("id").collect()
      .map(r => (r.getLong(1), r.getLong(3))) // (w, shard)
    out.sliding(2).foreach {
      case Array((wPrev, sPrev), (_, sNext)) =>
        assert(sNext >= sPrev, "shards must be monotone in id order")
        // next shard index is bounded by the tokens laid down so far
        assert(sNext - sPrev <= math.max(1L, wPrev / 1000L + 1),
          s"shard jumped $sPrev -> $sNext across one ${wPrev}-token doc")
      case _ =>
    }
  }
}
