package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Surrogate-key generation + attachment — SURVEY.md §2.5 A1 / §2.4 J1.
  *
  * The reference derives surrogate keys from the positional index of an
  * implicitly-ordered pandas frame (`python/transform.py:52-54`,
  * `python/scd_implementation.py:96-98`). Spark has no row order, so we
  * define the key as `row_number() - 1` over an EXPLICIT deterministic
  * ordering on the natural key — strictly more defined than the
  * reference (SURVEY.md §7.3 "surrogate-key determinism").
  *
  * Scale notes (100 TB design point):
  *  - Sequential keys require a total order, but NOT a single-partition
  *    window: [[sequentialKeys]] is a two-phase re-key — range
  *    repartition + per-partition local sort, one materialization,
  *    then per-partition `offset + local index`. Every phase is fully
  *    parallel; the only driver-side data is the P-length count array.
  *    Frames under the broadcast threshold skip all of it and rank in
  *    a single deliberate task. (Round 1 used `Window.orderBy` with no
  *    partition spec — the "No Partition Defined" single-task funnel;
  *    gone.)
  *  - For billion-row dimensions prefer [[stableHashKey]]: a 64-bit
  *    hash, fully parallel, no sort, stable across runs (sequential
  *    keys are NOT stable across runs — the reference re-keys every
  *    run and rebuilds facts, SURVEY.md §2.10). [[stableHashKeyChecked]]
  *    adds the birthday-bound collision assertion.
  *  - Attachment is a plain equi join; Spark auto-broadcasts dimension
  *    key maps below the broadcast threshold, so fact-side attachment
  *    is a broadcast hash join with no shuffle of the fact table.
  */
object SurrogateKeys {

  /** Dense sequential 0-based key over an explicit deterministic total
    * order. Frames under the broadcast threshold rank in one task (the
    * right plan for a small dimension — see the size gate below);
    * larger frames never funnel through one task:
    *
    * Phase 1 distributes rows by range on `orderCols` and sorts within
    * partitions (range boundaries + local sort = global total order);
    * the frame is materialized once (`localCheckpoint`) so phase 2
    * indexes ONE fixed lineage. Phase 2 is `RDD.zipWithIndex`: a
    * per-partition count pass, driver-side prefix-sum of the P counts,
    * then `offset + local index`.
    *
    * The materialization barrier is load-bearing for CORRECTNESS, not
    * just reuse: range bounds are SAMPLED, and when the parent's
    * intra-partition row order is nondeterministic (e.g. downstream of
    * a join), two executions of the same range exchange can pick
    * different bounds. Any single set of bounds still yields the exact
    * global rank (bounds move partition BOUNDARIES, not the total
    * order), but a plan that evaluates the exchange in two branches
    * (count + rank) can see two inconsistent partitionings and emit
    * wrong offsets — observed in practice before the checkpoint was
    * made mandatory here.
    *
    * `orderCols` must be a unique key of `df` for the assignment to be
    * deterministic (all call sites here order by a distinct key set).
    *
    * The one-task path is lazy: a caller that reads its result more
    * than once pins it (ScdType2 does). The dimension-scale path
    * returns a pin.
    *
    * Lifecycle: [[Checkpoints]].
    */
  def sequentialKeys(df: DataFrame, orderCols: Seq[Column], skName: String): DataFrame = {
    if (fitsOneTask(df))
      // One partition + total local sort, then
      // monotonically_increasing_id: on partition 0 the ids are
      // exactly 0..N-1 in row (= sort) order. No WindowExec, no extra
      // job; deterministic regardless of upstream row order (the sort
      // canonicalizes it). The id is non-deterministic to Catalyst, so
      // it cannot be reordered across the sort.
      return df.coalesce(1).sortWithinPartitions(orderCols: _*)
        .withColumn(skName, monotonically_increasing_id())
    val spark = df.sparkSession
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Checkpoints.scoped {
      val sorted = df.repartitionByRange(partitions, orderCols: _*)
        .sortWithinPartitions(orderCols: _*)
        .transform(Checkpoints.pin)
      val schema = StructType(sorted.schema.fields :+ StructField(skName, LongType, nullable = false))
      val indexed = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
      // zipWithIndex reads `sorted` through RDD-level lineage, which
      // the scope cannot see, so the result pins itself (one cheap map
      // pass over the pinned sorted blocks) and `sorted` is released
      // when the scope ends.
      spark.createDataFrame(indexed, schema).transform(Checkpoints.pin)
    }
  }

  /** The size gate, same spirit as AQE's coalesce-to-one: a frame
    * whose plan-estimated size fits the broadcast threshold gains
    * nothing from a distributed re-key, so [[sequentialKeys]] ranks it
    * in one deliberate task (constant partition key, so the ordering
    * semantics are identical) and skips two exchanges and a
    * range-sampling pass. The estimate reads pinned inputs at their
    * measured size ([[Checkpoints]]), so a frame derived from a pinned
    * join is gated on its rows, not on the product of the join's sides
    * that Spark's pre-checkpoint estimate would carry. */
  private[operators] def fitsOneTask(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }

  /** Distinct natural keys → dense sequential sk starting at 0,
    * ordered by the natural key columns (deterministic). */
  def surrogateKeys(df: DataFrame, naturalKey: Seq[String], skName: String): DataFrame = {
    val keys = df.select(naturalKey.map(col): _*).na.drop().distinct()
    sequentialKeys(keys, naturalKey.map(col), skName)
  }

  /** Scale-path alternative: stable 64-bit hash key of the natural key.
    * No global sort, no shuffle beyond the distinct; stable across runs. */
  def stableHashKey(df: DataFrame, naturalKey: Seq[String], skName: String): DataFrame =
    df.select(naturalKey.map(col): _*).na.drop().distinct()
      .withColumn(skName, xxhash64(naturalKey.map(col): _*))

  /** [[stableHashKey]] + the collision assertion the scale path needs:
    * one aggregation comparing rows vs distinct hashes; throws on any
    * collision (at 64 bits the birthday bound reaches ~1% only past
    * ~6×10⁸ keys — and a collision here must fail loudly, because two
    * natural keys sharing an sk silently merges dimension members). */
  def stableHashKeyChecked(df: DataFrame, naturalKey: Seq[String], skName: String): DataFrame = {
    // materialize once: the assertion is an action and the caller will
    // read the frame again
    val keyed = stableHashKey(df, naturalKey, skName).transform(Checkpoints.pin)
    val Row(rows: Long, hashes: Long) =
      keyed.agg(count(lit(1)), countDistinct(col(skName))).head()
    require(rows == hashes,
      s"stableHashKey collision: $rows natural keys -> $hashes distinct hashes on ${naturalKey.mkString(",")}")
    keyed
  }

  /** J1 — attach a surrogate key by left join on the natural key.
    * Key maps are dimension-sized → explicitly broadcast so the fact
    * side never shuffles. */
  def attach(fact: DataFrame, skTable: DataFrame, naturalKey: Seq[String]): DataFrame =
    fact.join(broadcast(skTable), naturalKey, "left")
}
