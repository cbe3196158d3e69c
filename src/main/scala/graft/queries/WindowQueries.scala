package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Checkpoints

/** Window/analytic queries over the `events` table. The reference has
  * no window functions (SURVEY.md §2.6); these cover the Spark-native
  * surface a Spark user of this engine expects: ranking, lag, running
  * aggregates, gap-based sessionization, and the batch form of the
  * streaming windowed aggregation (see `graft.streaming` for the
  * `readStream` equivalent).
  *
  * Scale notes: every window partitions by `user_id` — the shuffle is
  * one hash exchange on the session key and each partition's state is
  * one user's events (bounded). No global windows anywhere. Running
  * sums go through DECIMAL so the result is order/association-proof
  * across engines (DuckDB evaluates windowed SUM with a segment tree —
  * a plain double running sum would differ in ulps).
  */
object WindowQueries {

  // q21 — ranking / lag / running aggregate per user.
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id") < 20)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.select(
        col("user_id"), col("event_id"), col("event_type"), col("value"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        sum(col("value").cast(DecimalType(28, 9)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"))
      .orderBy(col("user_id"), col("rn"))
  }
  private val q21Sql =
    """SELECT user_id, event_id, event_type, value,
      | row_number() OVER w AS rn,
      | lag(value, 1) OVER w AS prev_value,
      | CAST(SUM(CAST(value AS DECIMAL(28,9))) OVER (
      |   PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events WHERE user_id < 20
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, rn""".stripMargin

  // q22 — gap-based sessionization (30-minute inactivity gap), the
  // batch analog of `flatMapGroupsWithState` sessionization.
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 1800L * 1000000L
    val withGap = e
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("is_new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withGap.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"))
      .withColumn("session_seconds",
        ((col("session_end_us") - col("session_start_us")) / 1000000L).cast("long"))
      .orderBy(col("user_id"), col("session_id"))
  }
  /** q22's 30-minute-gap sessionization over the events `from`
    * (a table, optionally with its WHERE) — q124/q133 replay the
    * streamed user slice. */
  private def sessionsSql(from: String): String =
    s"""WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS is_new_session
      |  FROM $from
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, event_id, ts_us,
      |    SUM(is_new_session) OVER (
      |      PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events,
      |  MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
      |  CAST((MAX(ts_us) - MIN(ts_us)) // 1000000 AS BIGINT) AS session_seconds
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin
  private val q22Sql = sessionsSql("events")

  // q23 — hourly tumbling-window aggregation (batch form of the
  // Structured Streaming windowed agg in `graft.streaming`).
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour_bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 9))).cast("double").as("total_value"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }
  private val q23Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_bucket,
      | event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(28,9))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // q24 — semi-structured extraction from the JSON `props` column
  // (regexp-based so both engines share exact semantics).
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.withColumn("prop_k",
        nullif(regexp_extract(col("props"), "\"k\": (\\d+)", 1), lit("")).cast("int"))
      .groupBy(col("prop_k"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("prop_k"))
  }
  private val q24Sql =
    """SELECT CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS INTEGER) AS prop_k,
      | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // q54 — interval correlation: each click paired with the same
  // user's purchases within 30 minutes after it. Batch twin of the
  // stream-stream interval join (EventStream.correlate — EventStreamSpec
  // pins streamed == batch); comparisons happen at microsecond
  // precision on both engines (Spark ts is µs; DuckDB epoch_us floors
  // the ns parquet timestamps identically).
  private def q54(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.correlate(
        Tables.events(s, dir), "click", "purchase", 1800, "0 seconds")
      .orderBy(col("a_id"), col("b_id"))
  private val q54Sql =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'click' AND b.event_type = 'purchase'
      | AND epoch_us(b.ts) >= epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000
      |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------
  // q112 — LEFT OUTER interval correlation: q54 plus the clicks that
  // never converted (null purchase, null gap) — the funnel-drop shape
  // an inner join silently discards. Batch twin of the watermark-
  // bounded stream-stream outer join (EventStream.correlateOuter;
  // EventStreamSpec pins the streamed null-emission discipline).
  private def q112(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.correlateOuter(
        Tables.events(s, dir), "click", "purchase", 1800, "0 seconds")
      .orderBy(col("a_id"), col("b_id"))
  private val q112Sql =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') a
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) >= epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000
      |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------
  // q113 — FULL OUTER interval correlation: q112 plus the purchases no
  // click window covers (null click side) — unattributed conversions
  // and unconverted clicks from ONE pass. Batch twin of
  // EventStream.correlateFull.
  private def q113(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.correlateFull(
        Tables.events(s, dir), "click", "purchase", 1800, "0 seconds")
      .orderBy(col("a_id"), col("b_id"))
  private val q113Sql =
    """SELECT COALESCE(a.user_id, b.user_id) AS user_id,
      |  a.event_id AS a_id, b.event_id AS b_id,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') a
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) >= epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000
      |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------
  // q117 — the interval join's STREAMING discipline under the gate:
  // the same correlateFull plan as q113, but ACTUALLY EXECUTED as a
  // rate-limited Structured Streaming query (file source,
  // maxFilesPerTrigger = 1 → four micro-batches in mtime order), not
  // the batch twin. A bounded slice (user_id < 40) is staged as three
  // DISJOINT time-range files — cut by a 2-value min/max bounds probe,
  // the JdbcPartitioning discipline — so micro-batches arrive in
  // event-time order and no real row is ever late against the
  // watermark; a fourth file carries a sentinel click+purchase pair 90
  // days out (user −1, excluded from the result) that advances BOTH
  // sides' watermarks past every real match window, so the stream owes
  // no pending null-side rows when it stops and streamed == batch
  // exactly — which is what the DuckDB oracle (the q113 full-outer SQL
  // restricted to the slice) then checks. The memory sink holds the
  // result; staging is deleted before returning.
  /** Shared staging harness for the streamed interval-join gates
    * (q117/q118): stage the bounded `user_id < 40` slice of events as
    * three DISJOINT time-range parquet files (cut by a 2-value
    * min/max bounds probe — the JdbcPartitioning discipline) in
    * strict mtime order, append a sentinel click+purchase pair 90
    * days out (user −1) that advances BOTH sides' watermarks past
    * every real match window, execute `join` over the file-source
    * stream (`maxFilesPerTrigger = 1` → four micro-batches), drain
    * into a memory sink, delete the staging, and return the real
    * (sentinel-free) rows ordered for the oracle. */
  private def streamedIntervalGate(s: SparkSession, dir: String,
      tag: String)(join: DataFrame => DataFrame): DataFrame =
    streamedGate(s, dir, tag)(join)(
      _.filter(col("user_id") >= 0).orderBy(col("a_id"), col("b_id")))

  /** Staged chunk files shared by the one-shot and RESTARTED gates:
    * the four time-cut parquet files land in `hold/` (strict mtime
    * order), and a gate REVEALS them into `in/` — all at once
    * ([[streamedGate]]) or in phases with a query restart between
    * ([[streamedGateRestart]]). */
  private final case class GateStage(stage: String, inDir: java.io.File,
      hold: java.io.File, schema: org.apache.spark.sql.types.StructType,
      fs: org.apache.hadoop.fs.FileSystem, nChunks: Int) {
    def reveal(from: Int, n: Int): Unit =
      (from until from + n).foreach { i =>
        val src = new java.io.File(hold, s"c$i.parquet")
        require(src.renameTo(new java.io.File(inDir, s"c$i.parquet")),
          s"reveal of chunk $i failed")
      }
    def delete(): Unit =
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** A kill point that GUARANTEES live state spans a restart: the
    * midpoint of the earliest same-(user, type, day) event pair that
    * is also inside one session gap (≤ 30 min apart; ≥ 2 µs apart so
    * the midpoint strictly separates the two). Cutting there puts an
    * already-seen dedup key AND an open session on BOTH sides of the
    * checkpoint kill — a recovery that lost either state is caught by
    * the oracle, where a cut at the default time-third can fall in
    * quiet air and pass vacuously (no key straddles the thirds at
    * sf0.01 — measured, and pinned the other way in Round9OpsSpec).
    * None when the slice has no such pair (degenerate corpus). */
  private[graft] def stateStraddlingCut(s: SparkSession, dir: String): Option[Long] = {
    val byKey = Window
      .partitionBy(col("user_id"), col("event_type"), to_date(col("ts")))
      .orderBy(col("ts"))
    val m = Tables.events(s, dir).filter(col("user_id") < 40)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("pus", lag(col("us"), 1).over(byKey))
      .filter(col("pus").isNotNull &&
        col("us") - col("pus") <= 1800L * 1000000L &&
        col("us") - col("pus") >= 2L)
      .agg(min((col("pus") + col("us")) / 2).cast("long")).head()
    if (m.isNullAt(0)) None else Some(m.getLong(0))
  }

  private def stageChunks(s: SparkSession, dir: String, tag: String,
      cutOverride: Option[Long] = None,
      cut2Override: Option[Long] = None): GateStage = {
    import s.implicits._
    val slice = Tables.events(s, dir).filter(col("user_id") < 40)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val bounds = slice.agg(
      unix_micros(min(col("ts"))).as("lo"),
      unix_micros(max(col("ts"))).as("hi")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val stage = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    val inDir = new java.io.File(stage, "in"); inDir.mkdirs()
    val hold = new java.io.File(stage, "hold"); hold.mkdirs()
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(s.sessionState.newHadoopConf())
    val cuts = cutOverride match {
      case Some(c) =>
        Seq(c, cut2Override.getOrElse(math.max(c + 1, lo + 2 * (hi - lo) / 3)))
      case None => Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    }
    require(cuts(0) < cuts(1), s"cuts must ascend, got $cuts")
    val sentinelTs = new java.sql.Timestamp(hi / 1000 + 90L * 86400 * 1000)
    val chunks: Seq[DataFrame] = Seq(
      slice.filter(unix_micros(col("ts")) < cuts(0)),
      slice.filter(unix_micros(col("ts")) >= cuts(0) &&
        unix_micros(col("ts")) < cuts(1)),
      slice.filter(unix_micros(col("ts")) >= cuts(1)),
      Seq((-1L, sentinelTs, -1L, "click", 0.0),
          (-2L, sentinelTs, -1L, "purchase", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
    chunks.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$stage/c$i"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(hold, s"c$i.parquet")
      fs.rename(part, new org.apache.hadoop.fs.Path(dest.toString))
      dest.setLastModified(1700000000000L + i * 60000L) // strict mtime order
    }
    GateStage(stage, inDir, hold, chunks.head.schema, fs, chunks.size)
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `n`,
    * restoring the previous value afterwards (also on a throw). A
    * stream's state-store count is pinned at start from this conf: at
    * 32, every micro-batch pays 32 state-store instances per stateful
    * operator (checkpoint dirs, snapshot+delta files, task
    * scheduling) for a ~4k-row bounded slice — nearly all of a
    * streamed gate's fixed cost. 4 partitions carry the same
    * semantics (the oracle still gates the result) at a fraction of
    * the per-batch machinery. Batch queries are unaffected: frames
    * returned after the restore re-plan under the restored setting. */
  private[queries] def withShufflePartitions[T](s: SparkSession, n: String)(
      body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", n)(body)

  /** Runs `body` with the session conf `key` set to `value`; afterwards
    * (also on a throw) restores the previous value, or unsets the key
    * if it had none. */
  private def withConf[T](s: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** Runs `body` on the RocksDB state-store provider, which
    * `transformWithState` requires (the HDFS-backed default throws
    * STATE_STORE_MULTIPLE_COLUMN_FAMILIES). */
  private def withRocksDbStateStore[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** The staging machinery of [[streamedIntervalGate]] with the final
    * projection/order left to the caller (`finish` — must also drop
    * the sentinel's `user_id < 0` rows): shared by the interval-join
    * gates (q117/q118) and the streamed-dedup gate (q122). */
  private def streamedGate(s: SparkSession, dir: String,
      tag: String, outputMode: String = "append")(
      xform: DataFrame => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    val gs = stageChunks(s, dir, tag)
    gs.reveal(0, gs.nChunks)
    val stream = s.readStream.schema(gs.schema)
      .option("maxFilesPerTrigger", 1).parquet(gs.inDir.toString)
    val joined = xform(stream)
    val sink = tag + "_" + java.util.UUID.randomUUID().toString.take(8)
    withShufflePartitions(s, "4") {
      val q = joined.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"${gs.stage}/ckpt")
        .outputMode(outputMode).start()
      try q.processAllAvailable() finally q.stop()
    }
    gs.delete()
    finish(s.table(sink))
  }

  /** CHECKPOINT-RECOVERY gate: the production restart path a single
    * start-to-finish stream never exercises. The staged chunks are
    * revealed in `phases` groups; after each group the query drains
    * (`processAllAvailable` — every in-flight batch commits) and is
    * STOPPED, and the next phase starts a FRESH query from the same
    * checkpoint — state store, watermark, and source offsets all
    * reload from disk, exactly like a crashed driver coming back.
    * Correctness is end-to-end: if recovery dropped or re-played
    * state (dedup keys seen before the kill, sessions open across
    * it), the final rows differ and the DuckDB batch oracle fails
    * the gate.
    *
    * The sink is the PARQUET streaming sink, not memory: the memory
    * sink refuses checkpoint recovery in append mode (it cannot
    * rebuild pre-restart batches), while the file sink's
    * `_spark_metadata` manifest gives exactly-once output across
    * restarts — the same mechanism a production file-landing job
    * relies on. The manifest-listed files are read back and
    * localCheckpoint'd before the staging dir is deleted. */
  private def streamedGateRestart(s: SparkSession, dir: String,
      tag: String, phases: Seq[Int],
      cutOverride: Option[Long])(xform: DataFrame => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    val gs = stageChunks(s, dir, tag, cutOverride)
    require(phases.sum == gs.nChunks && phases.forall(_ > 0),
      s"phases $phases must partition the ${gs.nChunks} staged chunks")
    val outDir = s"${gs.stage}/out"
    withShufflePartitions(s, "4") {
      var revealed = 0
      phases.foreach { n =>
        gs.reveal(revealed, n)
        revealed += n
        val stream = s.readStream.schema(gs.schema)
          .option("maxFilesPerTrigger", 1).parquet(gs.inDir.toString)
        val q = xform(stream).writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", s"${gs.stage}/ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    val out = finish(s.read.parquet(outDir)).transform(Checkpoints.pin)
    gs.delete()
    out
  }

  /** The dedup-bootstrap cut: the midpoint of the earliest
    * same-(user, type, day) consecutive event pair ≥ 2 µs apart,
    * under the TOTAL order (us, event_id) — unlike
    * [[stateStraddlingCut]] (whose ts-only ordering is fine when the
    * cut is result-invisible), this cut IS part of q142's result
    * contract (it defines history vs stream), so the oracle replays
    * the identical derivation and every tie must break the same way
    * in both engines. Splitting there guarantees ≥ 1 key occurs on
    * BOTH sides: a bootstrap that failed to seed history keys would
    * re-emit that key and the oracle catches it — a cut in quiet air
    * would let a broken bootstrap pass vacuously. */
  private[graft] def dedupBootstrapCut(s: SparkSession, dir: String): Option[Long] = {
    val byKey = Window
      .partitionBy(col("user_id"), col("event_type"), to_date(col("ts")))
      .orderBy(col("us"), col("event_id"))
    val m = Tables.events(s, dir).filter(col("user_id") < 40)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("pus", lag(col("us"), 1).over(byKey))
      .filter(col("pus").isNotNull && col("us") - col("pus") >= 2L)
      .agg(min(floor((col("pus") + col("us")) / 2)).cast("long")).head()
    if (m.isNullAt(0)) None else Some(m.getLong(0))
  }

  /** The restart-recurrence cut for [[q143]]: the midpoint of the
    * earliest consecutive same-key pair (total (us, event_id) order,
    * ≥ 2 µs apart) whose KEY is novel relative to history — every
    * event of the key is ≥ `c1`. The pair's first event then lands in
    * the phase-1 chunk `[c1, c2)` (the key EMITS before the kill) and
    * its recurrence lands ≥ c2 (after the restart) — so a recovery
    * that lost the accumulated dedup state re-emits the key and the
    * oracle catches it. Unlike [[dedupBootstrapCut]] this cut is
    * result-INVISIBLE (it only places the kill), so it needs no
    * oracle mirror — same status as q132/q133's kill point. */
  private[graft] def restartRecurrenceCut(s: SparkSession, dir: String,
      c1: Long): Option[Long] = {
    val key = Seq(col("user_id"), col("event_type"), to_date(col("ts")))
    val byKey = Window.partitionBy(key: _*).orderBy(col("us"), col("event_id"))
    val overKey = Window.partitionBy(key: _*)
    val m = Tables.events(s, dir).filter(col("user_id") < 40)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("pus", lag(col("us"), 1).over(byKey))
      .withColumn("kmin", min(col("us")).over(overKey))
      .filter(col("kmin") >= c1 && col("pus").isNotNull &&
        col("us") - col("pus") >= 2L)
      .agg(min(floor((col("pus") + col("us")) / 2)).cast("long")).head()
    if (m.isNullAt(0)) None else Some(m.getLong(0))
  }

  /** The staging machinery of [[streamedGate]] with chunk 0 WITHHELD
    * from the stream: it becomes the batch HISTORY frame handed to
    * `xform` alongside the stream — the warm-start shape
    * (`transformWithState` initial state seeded from a batch scan).
    * The cut between history and stream is [[dedupBootstrapCut]]. */
  private def bootstrapGate(s: SparkSession, dir: String, tag: String)(
      xform: (DataFrame, DataFrame) => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    val cut = dedupBootstrapCut(s, dir)
    require(cut.isDefined,
      s"$tag: no same-key event pair to straddle — corpus too degenerate")
    val gs = stageChunks(s, dir, tag, cutOverride = cut)
    val history = s.read.schema(gs.schema)
      .parquet(new java.io.File(gs.hold, "c0.parquet").toString)
    gs.reveal(1, gs.nChunks - 1)
    val stream = s.readStream.schema(gs.schema)
      .option("maxFilesPerTrigger", 1).parquet(gs.inDir.toString)
    val out = xform(history, stream)
    val sink = tag + "_" + java.util.UUID.randomUUID().toString.take(8)
    withShufflePartitions(s, "4") {
      val q = out.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"${gs.stage}/ckpt")
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    }
    gs.delete()
    finish(s.table(sink))
  }

  /** [[bootstrapGate]] KILLED AND RESTARTED: phase 1 streams the
    * `[c1, c2)` chunk under a fresh query seeded with the initial
    * state; the query stops; phase 2 starts a NEW query from the
    * same checkpoint (re-passing the same initial state, as a
    * resubmitted production job would — Spark applies initial state
    * only at batch 0, so recovery must come from the store, not the
    * seed) for the remaining chunks. Writes through the exactly-once
    * parquet sink ([[streamedGateRestart]]'s discipline — the memory
    * sink refuses append-mode recovery). The kill point `c2`
    * ([[restartRecurrenceCut]]) guarantees a key that EMITTED before
    * the kill recurs after it. */
  private def bootstrapGateRestart(s: SparkSession, dir: String, tag: String)(
      xform: (DataFrame, DataFrame) => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    val c1 = dedupBootstrapCut(s, dir)
    require(c1.isDefined,
      s"$tag: no same-key event pair to straddle — corpus too degenerate")
    val c2 = restartRecurrenceCut(s, dir, c1.get)
    require(c2.isDefined,
      s"$tag: no novel-key recurrence after cut ${c1.get} to place the kill")
    val gs = stageChunks(s, dir, tag, cutOverride = c1, cut2Override = c2)
    val history = s.read.schema(gs.schema)
      .parquet(new java.io.File(gs.hold, "c0.parquet").toString)
    val outDir = s"${gs.stage}/out"
    withShufflePartitions(s, "4") {
      var revealed = 1
      Seq(1, 2).foreach { n =>
        gs.reveal(revealed, n)
        revealed += n
        val stream = s.readStream.schema(gs.schema)
          .option("maxFilesPerTrigger", 1).parquet(gs.inDir.toString)
        val q = xform(history, stream).writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", s"${gs.stage}/ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    val out = finish(s.read.parquet(outDir)).transform(Checkpoints.pin)
    gs.delete()
    out
  }

  // ---------------------------------------------------------------
  // q142 — WARM-STARTED streaming dedup under the gate: day 2 of a
  // streaming ingestion job. The pre-cut slice is the "yesterday"
  // history — its (user, type, day) keys seed the state store through
  // `transformWithState`'s initial-state overload BEFORE the first
  // micro-batch ([[graft.streaming.EventStream.bootstrapDedup]]);
  // the post-cut slice streams. A key already in history never
  // emits; a novel key emits its first event exactly once. The cut
  // ([[dedupBootstrapCut]]) provably straddles a key, so a bootstrap
  // that dropped the seeding is CAUGHT (the straddled key would
  // re-emit and the oracle's global first-occurrence answer differs).
  // This is the streaming twin of q134's signature-store warm start —
  // same day-2 economics: history is one batch scan at query start,
  // never rescanned per micro-batch.
  private def q142(s: SparkSession, dir: String): DataFrame =
    withRocksDbStateStore(s) {
      bootstrapGate(s, dir, "q142")((history, stream) => {
        import s.implicits._
        val historyKeys = history
          .select(col("user_id"), col("event_type"),
            to_date(col("ts")).cast("string").as("day"))
          .distinct()
          .as[graft.streaming.EventStream.DedupKey]
        graft.streaming.EventStream.bootstrapDedup(s, stream, historyKeys)
          .toDF()
      })(
        _.filter(col("user_id") >= 0)
          .orderBy(col("user_id"), col("event_type"), col("day")))
    }
  private val q142Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
      |    CAST(CAST(ts AS DATE) AS VARCHAR) AS day
      |  FROM events WHERE user_id < 40),
      |p AS (
      |  SELECT us, lag(us) OVER (
      |      PARTITION BY user_id, event_type, day
      |      ORDER BY us, event_id) AS pus
      |  FROM e),
      |cut AS (
      |  SELECT CAST(MIN(floor((pus + us) / 2)) AS BIGINT) AS c
      |  FROM p WHERE pus IS NOT NULL AND us - pus >= 2),
      |r AS (
      |  SELECT e.*, row_number() OVER (
      |      PARTITION BY user_id, event_type, day
      |      ORDER BY us, event_id) AS rn
      |  FROM e)
      |SELECT r.user_id, r.event_type, r.day, r.event_id, r.us
      |FROM r, cut WHERE r.rn = 1 AND r.us >= cut.c
      |ORDER BY user_id, event_type, day""".stripMargin

  // ---------------------------------------------------------------
  // q143 — q142's warm-started dedup KILLED AND RESTARTED: the
  // interaction no single-feature gate exercises — INITIAL STATE ×
  // CHECKPOINT RECOVERY. Phase 1 seeds the store from history and
  // streams one chunk; the query dies; phase 2 resubmits the same
  // job (initial state re-passed, as production would) from the
  // checkpoint. Spark applies initial state only at batch 0, so
  // phase 2's correctness rests entirely on the recovered store: a
  // recovery that lost the SEEDED keys re-emits history content, one
  // that lost the ACCUMULATED keys re-emits the phase-1 key that
  // provably recurs after the kill ([[restartRecurrenceCut]]), and a
  // replayed batch double-writes into the exactly-once parquet sink
  // — all three break the q142 oracle. Same oracle as q142: the
  // restart must be invisible.
  private def q143(s: SparkSession, dir: String): DataFrame =
    withRocksDbStateStore(s) {
      bootstrapGateRestart(s, dir, "q143")((history, stream) => {
        import s.implicits._
        val historyKeys = history
          .select(col("user_id"), col("event_type"),
            to_date(col("ts")).cast("string").as("day"))
          .distinct()
          .as[graft.streaming.EventStream.DedupKey]
        graft.streaming.EventStream.bootstrapDedup(s, stream, historyKeys,
          org.apache.spark.sql.streaming.OutputMode.Append()).toDF()
      })(
        _.filter(col("user_id") >= 0)
          .orderBy(col("user_id"), col("event_type"), col("day")))
    }
  private val q143Sql = q142Sql

  // ---------------------------------------------------------------
  // q149 — STREAMING sketch maintenance under the gate: the KMV
  // bottom-k sketch (q141/q145's batch operator) kept as
  // transformWithState stream state — per event type, the 32
  // smallest distinct event-id hashes plus the running count,
  // updated per micro-batch. Bottom-k-of-union is associative and
  // commutative, so the final emission must equal the BATCH sketch
  // exactly however the stream was chunked — the oracle checks it.
  // The 100 TB story is the mergeable-sketch property itself: per-key
  // stream state is O(k) longs regardless of corpus size — this gate
  // proves every sketch family in the repo (HLL q57, CMS q76, GK
  // q80, KMV here) has a bounded-state streaming twin. The sentinel
  // rows are filtered BEFORE the processor (their hashes must not
  // enter a real type's sketch); TimeMode.None needs no watermark.
  private def q149(s: SparkSession, dir: String): DataFrame =
    withRocksDbStateStore(s) {
      streamedGate(s, dir, "q149", outputMode = "update")(stream =>
        graft.streaming.EventStream.kmvSketchStream(
          s, stream.filter(col("user_id") >= 0), k = 32).toDF())(
        _.groupBy(col("event_type"))
          .agg(max(col("n_seen")).as("n_seen"),
            max_by(col("sketch"), col("n_seen")).as("sketch"))
          .orderBy(col("event_type")))
    }
  private val q149Sql =
    """WITH e AS (SELECT event_type,
      |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM events WHERE user_id < 40),
      |cnt AS (SELECT event_type, COUNT(*) AS n_seen FROM e GROUP BY 1),
      |d AS (SELECT DISTINCT event_type, h FROM e),
      |r AS (SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM d),
      |sk AS (SELECT event_type,
      |    array_to_string(list_sort(list(h)), '_') AS sketch
      |  FROM r WHERE rn <= 32 GROUP BY event_type)
      |SELECT c.event_type, c.n_seen, sk.sketch
      |FROM cnt c JOIN sk ON c.event_type = sk.event_type
      |ORDER BY c.event_type""".stripMargin

  // ---------------------------------------------------------------
  // q170 — STREAMING running top-k under the gate: per event type,
  // the 5 largest values seen so far as transformWithState state
  // (the live-leaderboard shape; [[graft.streaming.EventStream
  // .topKStream]]). Top-k-of-union under the total order (value
  // desc, id) is associative, so the final emission equals the batch
  // ranking exactly however the stream was chunked — the oracle's
  // check, with O(k) per-key state the same way q149's KMV bounds
  // its sketch. Values pass through state EXACTLY (no arithmetic),
  // so the doubles hash-match the source parquet.
  private def q170(s: SparkSession, dir: String): DataFrame =
    withRocksDbStateStore(s) {
      streamedGate(s, dir, "q170", outputMode = "update")(stream =>
        graft.streaming.EventStream.topKStream(
          s, stream.filter(col("user_id") >= 0), k = 5).toDF())(
        out => out
          .withColumn("__mx", max(col("n_seen")).over(
            Window.partitionBy(col("event_type"))))
          .filter(col("n_seen") === col("__mx"))
          .select(col("event_type"), col("rank"), col("event_id"), col("value"))
          .orderBy(col("event_type"), col("rank")))
    }
  private val q170Sql =
    """SELECT event_type, rank, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id) AS BIGINT) AS rank
      |  FROM events WHERE user_id < 40)
      |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin

  private def q117(s: SparkSession, dir: String): DataFrame =
    streamedIntervalGate(s, dir, "q117")(stream =>
      graft.streaming.EventStream.correlateFull(
        stream, "click", "purchase", 1800, "1 hour"))
  private val q117Sql =
    """SELECT COALESCE(a.user_id, b.user_id) AS user_id,
      |  a.event_id AS a_id, b.event_id AS b_id,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM (SELECT * FROM events
      |      WHERE event_type = 'click' AND user_id < 40) a
      |FULL JOIN (SELECT * FROM events
      |      WHERE event_type = 'purchase' AND user_id < 40) b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) >= epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000
      |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------
  // q118 — the LEFT-outer interval join's streaming discipline under
  // the gate: q112's correlateOuter plan (previously stream-pinned
  // only in EventStreamSpec) executed as a real rate-limited stream
  // through the same staging harness as q117. The sentinel advances
  // the purchase-side watermark so every unconverted click's null row
  // is emitted before the stream stops; streamed == batch is checked
  // by the q112 oracle restricted to the slice.
  private def q118(s: SparkSession, dir: String): DataFrame =
    streamedIntervalGate(s, dir, "q118")(stream =>
      graft.streaming.EventStream.correlateOuter(
        stream, "click", "purchase", 1800, "1 hour"))
  private val q118Sql =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM (SELECT * FROM events
      |      WHERE event_type = 'click' AND user_id < 40) a
      |LEFT JOIN (SELECT * FROM events
      |      WHERE event_type = 'purchase' AND user_id < 40) b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) >= epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000
      |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------
  // q122 — STREAMING exact dedup under the gate:
  // `EventStream.dedupedStream` (previously exercised only in
  // EventStreamSpec) run as a real stream — the stateful dedup a
  // 100 TB pipeline runs at the front door, with state TTL'd by the
  // watermark instead of growing with the corpus (plain
  // `dropDuplicates` on a stream retains every key forever).
  //
  // Within-watermark dedup is only exact when no key can recur AFTER
  // its state expired. Here that is provable: the dedup key includes
  // the event's civil DAY, so two occurrences of one key are < 24 h
  // apart in event time; state expires when the watermark passes
  // first_seen_ts + delay, the watermark entering any batch is at
  // most that batch's minimum staged timestamp (files are staged in
  // strict time order) minus the delay, so with delay = 1 day the
  // expiry needs a 48 h event-time gap — impossible within a day.
  // Streamed output therefore equals batch DISTINCT (user, type, day)
  // exactly, which is what the oracle checks. The sentinel's far-
  // future keys advance the watermark to flush all state before stop
  // and are dropped by `finish`.
  private def q122(s: SparkSession, dir: String): DataFrame =
    streamedGate(s, dir, "q122")(dedupedDays)(dedupedDaysOut)
  /** q122/q132's streamed dedup of (user, type, day) keys (1-day
    * watermark) and its read-back without the sentinel user. */
  private def dedupedDays(stream: DataFrame): DataFrame =
    graft.streaming.EventStream.dedupedStream(
        stream.withColumn("day", to_date(col("ts"))),
        watermark = "1 day", idCols = Seq("user_id", "event_type", "day"))
      .select(col("user_id"), col("event_type"), col("day"))
  private def dedupedDaysOut(out: DataFrame): DataFrame =
    out.filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("event_type"), col("day"))
  private val q122Sql =
    """SELECT user_id, event_type, CAST(ts AS DATE) AS day
      |FROM events WHERE user_id < 40
      |GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, day""".stripMargin

  // ---------------------------------------------------------------
  // q124 — STREAMING sessionization under the gate: the
  // `flatMapGroupsWithState` session machine (EventStream.sessionize,
  // previously exercised only in EventStreamSpec) run as a real
  // rate-limited stream, checked against the batch q22 semantics by
  // the oracle.
  //
  // Why streamed == batch is PROVABLE here, not assumed: a session is
  // closed early only if its gap-horizon timeout fires before its
  // continuation arrives, i.e. only if a continuation event is late
  // past the watermark. The harness stages files in strict time order,
  // so every event of batch k is >= every event of batches < k, while
  // the watermark entering batch k is (max event time of batches < k)
  // minus the delay — strictly below any continuation in batch k.
  // Hence no continuation is ever late, no session closes early, and
  // the sentinel's far-future pair advances the watermark to time out
  // every open session (Spark's no-data micro-batch fires the
  // timeouts) before the stream stops. Session ids then count 1..k
  // per user in time order, exactly like the batch cumulative sum.
  private def q124(s: SparkSession, dir: String): DataFrame =
    streamedGate(s, dir, "q124")(sessionized(s))(sessionsOut)
  /** q124/q133's streamed sessionization (30-minute gap, 1-hour
    * watermark) and its read-back: the sentinel user dropped, session
    * length in whole seconds. */
  private def sessionized(s: SparkSession)(stream: DataFrame): DataFrame = {
    import s.implicits._
    graft.streaming.EventStream.sessionize(
      s, stream.as[graft.streaming.EventStream.Event],
      gapSeconds = 1800, watermark = "1 hour").toDF()
  }
  private def sessionsOut(out: DataFrame): DataFrame =
    out.filter(col("user_id") >= 0)
      .withColumn("session_seconds",
        ((col("session_end_us") - col("session_start_us")) / 1000000L)
          .cast("long"))
      .orderBy(col("user_id"), col("session_id"))
  private val q124Sql = sessionsSql("events WHERE user_id < 40")

  // ---------------------------------------------------------------
  // q132 — q122's streaming dedup KILLED AND RESTARTED mid-stream:
  // the first chunk processes, the query stops cleanly, and a fresh
  // query resumes from the checkpoint for the remaining three (incl.
  // the sentinel). The kill point is DATA-DERIVED
  // ([[stateStraddlingCut]]): it bisects a same-(user, type, day)
  // event pair, so a key already in the dedup state at the kill
  // RECURS after the restart — lost state would re-emit it and the
  // oracle's batch DISTINCT would catch the duplicate; conversely a
  // restart that replayed committed batches would double-emit
  // phase-1 rows into the exactly-once file sink. Same oracle as
  // q122 — restart must be INVISIBLE in the result.
  private def q132(s: SparkSession, dir: String): DataFrame =
    streamedGateRestart(s, dir, "q132", phases = Seq(1, 3),
        cutOverride = stateStraddlingCut(s, dir))(dedupedDays)(dedupedDaysOut)
  private val q132Sql = q122Sql

  // ---------------------------------------------------------------
  // q133 — q124's flatMapGroupsWithState sessionization KILLED AND
  // RESTARTED: the hardest state to recover — sessions OPEN at the
  // kill point (arbitrary user state + registered event-time
  // timeouts, not a built-in operator's rows). The data-derived kill
  // point ([[stateStraddlingCut]]) bisects an intra-session event
  // pair, so a session is GUARANTEED open across the restart: its
  // continuation must EXTEND the recovered state (a lost state would
  // start a new session and renumber every later one for that user);
  // the sentinel then times out all open sessions via the recovered
  // watermark. Same oracle as q124.
  private def q133(s: SparkSession, dir: String): DataFrame =
    streamedGateRestart(s, dir, "q133", phases = Seq(1, 3),
        cutOverride = stateStraddlingCut(s, dir))(sessionized(s))(sessionsOut)
  private val q133Sql = q124Sql

  // ---------------------------------------------------------------
  // q127 — STREAM-STATIC enrichment under the gate: the remaining
  // streaming join shape after q117/q118's stream-stream joins — a
  // stream joined to a STATIC broadcast dimension (the 100 TB front
  // door: events enriched with a slowly-changing dim snapshot before
  // any stateful work), feeding a watermarked tumbling-window
  // aggregate in append mode. The static side re-broadcasts per
  // micro-batch (customer is a dim; at cluster scale the broadcast is
  // the point — no shuffle of the stream side, PlanSpec-pinnable
  // BroadcastHashJoin in every batch plan).
  //
  // Exactness: the watermark is declared on the stream BEFORE the
  // join, so the sentinel (user −1, absent from customer, dropped BY
  // the inner join) still advances the watermark past every real
  // hour window — every window is closed and emitted before the
  // stream stops, and streamed == batch GROUP BY, which the oracle
  // checks. Window starts are formatted as strings (the q23
  // discipline) for cross-engine timestamp parity.
  private def q127(s: SparkSession, dir: String): DataFrame =
    streamedGate(s, dir, "q127")(stream => {
      val dim = broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")))
      stream.withWatermark("ts", "1 hour")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(28, 9))).cast("double").as("total_value"))
        .select(
          col("c_mktsegment").as("segment"),
          date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_bucket"),
          col("n_events"), col("total_value"))
    })(
      // sentinel rows never reach the sink: user −1 has no customer
      // row, so the inner join drops them (watermark already advanced
      // at the source node)
      _.orderBy(col("segment"), col("hour_bucket")))
  private val q127Sql =
    """SELECT c.c_mktsegment AS segment,
      |  strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:00') AS hour_bucket,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(28,9))) AS DOUBLE) AS total_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |WHERE e.user_id < 40
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q137 — Spark 4's ARBITRARY-STATE API (`transformWithState` +
  // StatefulProcessor) under the gate: EventStream.runningTotals
  // (previously exercised only in EventStreamSpec) run as a real
  // rate-limited stream in UPDATE mode over the RocksDB store the
  // operator requires. Each micro-batch emits appearing users'
  // updated cumulative (n_events, total_micros); emissions are
  // strictly monotone in n_events per user, so the final cumulative
  // row is the n_events-argmax and must equal the batch GROUP BY —
  // which is what the oracle checks. Values quantize to micros with
  // floor(v·1e6 + 0.5) (exactly JVM Math.round), mirrored in the
  // oracle, so the running sum is an exact long however the batches
  // split. The memory sink in update mode retains every emission;
  // `finish` folds to the final row per user and drops the sentinel.
  private def q137(s: SparkSession, dir: String): DataFrame =
    withRocksDbStateStore(s) {
      streamedGate(s, dir, "q137", outputMode = "update")(stream => {
        import s.implicits._
        graft.streaming.EventStream.runningTotals(
          s, stream.as[graft.streaming.EventStream.Event]).toDF()
      })(
        _.filter(col("user_id") >= 0)
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"),
            max_by(col("total_micros"), col("n_events")).as("total_micros"))
          .orderBy(col("user_id")))
    }
  private val q137Sql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS total_micros
      |FROM events WHERE user_id < 40
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q99 — ratio-to-report: each nation's share of its REGION's revenue
  // (the percent-of-total analytic every BI layer needs). Revenue
  // aggregates to integer micros first (exact), so the window total is
  // a long sum over ≤ |nations| rows per region and the share is one
  // double division — bit-identical cross-engine. Star joins broadcast
  // (customer/nation/region are dims); the window runs on the
  // POST-aggregation frame (25 nations), never the fact table.
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
    val rev = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(round(col("o_totalprice") * 1000000).cast("long"))
        .as("revenue_micros"))
    val w = Window.partitionBy(col("r_name"))
    rev
      .withColumn("region_micros", sum(col("revenue_micros")).over(w))
      .withColumn("region_share", col("revenue_micros").cast("double")
        / col("region_micros").cast("double"))
      .orderBy(col("r_name"), col("n_name"))
  }
  private val q99Sql =
    """WITH rev AS (
      |  SELECT r_name, n_name,
      |    CAST(SUM(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
      |      AS revenue_micros
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name, revenue_micros,
      |  CAST(SUM(revenue_micros) OVER (PARTITION BY r_name) AS BIGINT)
      |    AS region_micros,
      |  CAST(revenue_micros AS DOUBLE)
      |    / CAST(SUM(revenue_micros) OVER (PARTITION BY r_name) AS DOUBLE)
      |    AS region_share
      |FROM rev ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------
  // q100 — sessionization through the NATIVE session_window
  // aggregation (q22 computes the same thing with explicit lag/cumsum
  // windows; here Spark's own session-merge operator does it, the form
  // that also runs on a stream — streamed ≡ batch pinned in
  // EventStreamSpec). Boundary semantics differ from q22 by design:
  // a gap of exactly 30 minutes starts a NEW session (half-open
  // [start, last+gap) windows), and the session end is the horizon
  // last_ts + gap; the oracle spells both out.
  private def q100(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.sessionWindowAgg(
        Tables.events(s, dir), gap = "30 minutes", watermark = None)
      .orderBy(col("user_id"), col("session_start_us"))
  private val q100Sql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS is_new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts_us,
      |    SUM(is_new_session) OVER (
      |      PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  MIN(ts_us) AS session_start_us,
      |  MAX(ts_us) + 1800000000 AS session_end_us,
      |  COUNT(*) AS n_events
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q100_session_window", q100, Some(q100Sql)),
    QueryDef("q21_window_funcs", q21, Some(q21Sql)),
    QueryDef("q22_sessionize", q22, Some(q22Sql)),
    QueryDef("q23_windowed_agg", q23, Some(q23Sql)),
    QueryDef("q24_json_extract", q24, Some(q24Sql)),
    QueryDef("q54_interval_join", q54, Some(q54Sql)),
    QueryDef("q112_interval_left_join", q112, Some(q112Sql)),
    QueryDef("q113_interval_full_join", q113, Some(q113Sql)),
    QueryDef("q117_interval_join_streamed", q117, Some(q117Sql)),
    QueryDef("q118_interval_left_streamed", q118, Some(q118Sql)),
    QueryDef("q122_streamed_dedup", q122, Some(q122Sql)),
    QueryDef("q124_sessionize_streamed", q124, Some(q124Sql)),
    QueryDef("q132_dedup_restarted", q132, Some(q132Sql)),
    QueryDef("q137_running_totals_streamed", q137, Some(q137Sql)),
    QueryDef("q133_sessionize_restarted", q133, Some(q133Sql)),
    QueryDef("q127_stream_static_enriched", q127, Some(q127Sql)),
    QueryDef("q142_bootstrap_dedup_streamed", q142, Some(q142Sql)),
    QueryDef("q143_bootstrap_dedup_restarted", q143, Some(q143Sql)),
    QueryDef("q149_kmv_sketch_streamed", q149, Some(q149Sql)),
    QueryDef("q170_topk_streamed", q170, Some(q170Sql)),
    QueryDef("q99_ratio_to_report", q99, Some(q99Sql)),
  )
}
