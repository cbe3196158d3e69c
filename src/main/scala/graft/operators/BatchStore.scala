package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generic append-only batch store: the commit protocol behind
  * [[Dedup.writeSignatureStore]] (which commits through [[append]]),
  * reusable for any frame a daily pipeline appends deltas to —
  * posting lists ([[InvertedIndex]]), feature tables, document
  * signatures. Layout is one parquet dir per
  * committed batch (`root/batch=<id>`); a batch is staged under a
  * dot-dir (invisible to readers — the parquet source skips dot
  * paths) and RENAMED in atomically, so:
  *  - a reader never sees a half-written batch;
  *  - a crashed write leaves only invisible `.staging-*` garbage
  *    ([[vacuumStaging]] is hygiene, not correctness);
  *  - a retry of a committed batch id fails fast instead of
  *    duplicating rows.
  * Readers scan the union of committed batches — history bytes are
  * written once, ever; the daily append writes ONLY the delta. */
object BatchStore {

  /** Stage `df` and commit it as `root/batch=<batchId>`. With
    * `partitionBy`, the batch is written partition-dir-per-value
    * (`batch=<id>/col=<v>/…`) — readers get DIRECTORY-level partition
    * pruning on those columns (the [[graft.operators.Similarity
    * .ivfPqTopKFromStore]] probe reads only its lists' dirs); the
    * whole batch still commits in the one staging rename. */
  def append(df: DataFrame, root: String, batchId: Long,
      partitionBy: Seq[String] = Seq.empty): Unit = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dest = new org.apache.hadoop.fs.Path(root, s"batch=$batchId")
    require(!fs.exists(dest), s"batch $batchId already committed at $dest")
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".staging-$batchId-${java.util.UUID.randomUUID().toString.take(8)}")
    val w = df.write.mode("error")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    require(fs.rename(tmp, dest), s"commit rename $tmp -> $dest failed")
  }

  /** The exactly-once `foreachBatch` epoch rule every store sink
    * shares: epoch `e` commits as batch id `1 + e`, and an epoch whose
    * `root/batch=<id>` is already committed is a replay that writes
    * nothing — the stage-and-rename commit means that dir is either
    * complete or absent. `write(batch, id)` commits one epoch in its
    * own pin scope ([[Checkpoints]]), so an epoch's pins are released
    * when it ends. Requires the replayed epoch to carry the same rows,
    * which the checkpointed file/kafka sources guarantee. */
  private[graft] def epochSink(root: String)(
      write: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, epochId) => {
      val id = 1L + epochId
      val dest = new org.apache.hadoop.fs.Path(root, s"batch=$id")
      val fs = dest.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
      if (!fs.exists(dest)) Checkpoints.scoped(write(batch, id))
    }

  /** All committed batches as one frame; the `batch` partition column
    * rides along for auditing. */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(root)

  /** SCHEMA-EVOLVED read: a year of daily appends changes schemas (a
    * new enrichment column lands in month 7), and the plain parquet
    * read picks ONE file's schema — batches written before the column
    * may silently drop it or keep it depending on which file wins
    * schema inference. `mergeSchema = true` unions every batch's
    * schema and null-fills the pre-evolution rows — deterministic,
    * footer-merge-costed (no data scan). Pair with [[compactEvolved]]
    * so maintenance preserves the unified schema physically. */
  def read(spark: SparkSession, root: String,
      mergeSchema: Boolean): DataFrame =
    spark.read.option("mergeSchema", mergeSchema.toString).parquet(root)

  /** [[compact]] for a store whose batches have DRIFTED schemas:
    * merges with null-filled missing columns (the [[read]]
    * `mergeSchema` semantics made physical) instead of failing. The
    * default [[compact]] stays STRICT — on a store that should be
    * uniform, silent null-filling would turn an upstream bug into
    * quiet data corruption; evolution is opt-in per maintenance
    * call. */
  def compactEvolved(spark: SparkSession, root: String,
      newBatchId: Long): Int =
    compact(spark, root, newBatchId, identity[DataFrame], () => (),
      evolve = true)

  /** The store AS OF batch `maxBatchId` — only batches committed with
    * id ≤ `maxBatchId`. This is the reproducibility read a training
    * pipeline needs ("rebuild the corpus exactly as the day-40 job
    * saw it"): batch dirs are immutable once committed, so the as-of
    * frame is bit-stable forever — and it costs nothing extra, because
    * `batch` is a partition column and the predicate prunes at the
    * DIRECTORY level (the scan lists only `batch=1..k`; spec-pinned
    * via `selectedPartitions`).
    *
    * As-of reads require the append-only history to still exist:
    * [[compact]] collapses every batch into one new id and deletes the
    * originals, so an as-of below the oldest SURVIVING batch would
    * silently serve an empty or partial frame — it fails loudly
    * instead. Stores that need deep time travel should skip
    * compaction (retention is the price of history) or snapshot
    * through [[SnapshotCommit]], whose versions survive vacuum policy
    * explicitly.
    *
    * This read is UNMASKED — deliberately: the `.tombstones` mask is
    * CURRENT erasure state, and "the frame exactly as the day-40 job
    * saw it" is bit-stable only if later deletes don't rewrite
    * history. But an unmasked rebuild RE-SERVES forgotten rows until
    * the physical purge — a reproducibility job on a store that
    * carries takedowns must use [[readAsOfMasked]] (as-of history ∖
    * current tombstones, the [[Tombstones]]/readKept discipline)
    * unless it is explicitly auditing pre-erasure state. */
  def readAsOf(spark: SparkSession, root: String,
      maxBatchId: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"no store at $root")
    val ids = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
    require(ids.nonEmpty, s"no committed batches under $root")
    require(ids.min <= maxBatchId,
      s"as-of $maxBatchId predates the oldest surviving batch " +
        s"${ids.min} under $root — history was compacted away; as-of " +
        "reads need the append-only batches retained")
    // mergeSchema: a reproducibility read over a SCHEMA-EVOLVED store
    // must be complete and deterministic — the plain read lets one
    // file's footer win inference and silently drop (or
    // nondeterministically keep) columns added mid-history
    spark.read.option("mergeSchema", "true").parquet(root)
      .filter(org.apache.spark.sql.functions.col("batch") <= maxBatchId)
  }

  /** [[readAsOf]] with the store's CURRENT tombstones applied — the
    * erasure-safe reproducibility read: batches committed by
    * `maxBatchId`, minus every id forgotten since. Use this to
    * REBUILD corpora/indexes from historical state (a takedown must
    * hold across rebuilds); use the raw [[readAsOf]] only to audit
    * what a past job actually saw. */
  def readAsOfMasked(spark: SparkSession, root: String, maxBatchId: Long,
      idCol: String): DataFrame =
    Tombstones(spark, root, readAsOf(spark, root, maxBatchId), idCol)

  /** Compact every committed batch into ONE new batch and delete the
    * originals — the maintenance an append-only store needs (a year
    * of daily deltas is 365 dirs of small files, each adding listing
    * + footer cost to every scan). The [[Dedup.compactSignatureStore]]
    * protocol, minus its content-conflict semantics (a generic store
    * has no (id, chash) notion — callers with idempotent-append
    * invariants layer their own checks):
    *  - `newBatchId` must exceed every existing id, re-validated by a
    *    RE-LIST immediately before the commit rename (an append
    *    racing the merge aborts the compaction loudly, staging still
    *    invisible);
    *  - between the rename and the deletes, readers see every row
    *    twice — callers must be duplicate-tolerant through that
    *    window (term-search and BM25 stats are NOT: compact the
    *    posting store only between queries, or dedup on read).
    * SINGLE MAINTAINER assumed, as for the signature store. Returns
    * the number of batch dirs replaced. */
  def compact(spark: SparkSession, root: String, newBatchId: Long): Int =
    compact(spark, root, newBatchId, () => ())

  /** [[compact]] with a row TRANSFORM applied to the merged frame
    * before it commits — the hook a store needs to make maintenance
    * REWRITE rows, not just re-pack them (the posting store's
    * tombstone purge drops deleted docs' rows here,
    * [[InvertedIndex.purgeTombstones]]). Same protocol, same
    * single-maintainer assumption; the transform must be
    * deterministic — it runs once, on the merge, and the originals
    * are deleted after the commit. */
  def compactWith(spark: SparkSession, root: String, newBatchId: Long,
      transform: DataFrame => DataFrame): Int =
    compact(spark, root, newBatchId, transform, () => ())

  /** Test seam: `onBeforeCommit` runs after the merged batch is
    * staged, before the id-invariant re-list (Round10Spec plants a
    * racing append there). */
  private[graft] def compact(spark: SparkSession, root: String,
      newBatchId: Long, onBeforeCommit: () => Unit): Int =
    compact(spark, root, newBatchId, identity[DataFrame], onBeforeCommit)

  /** `partitionBy` re-establishes a partitioned layout ([[append]]'s
    * dir-per-value) on the compacted batch — a list-partitioned index
    * compacted flat would lose its directory pruning. */
  private[graft] def compact(spark: SparkSession, root: String,
      newBatchId: Long, transform: DataFrame => DataFrame,
      onBeforeCommit: () => Unit,
      partitionBy: Seq[String] = Seq.empty,
      evolve: Boolean = false): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def listIds(): Seq[Long] = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
    val batches = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
    require(batches.nonEmpty, s"no committed batches under $root")
    val ids = batches.map(_.getPath.getName.stripPrefix("batch=").toLong)
    require(newBatchId > ids.max,
      s"newBatchId=$newBatchId must exceed every existing batch id (max ${ids.max})")
    // one read PER batch dir, unioned by name: a multi-path read of
    // `batch=N` roots that carry partition SUBDIRS (the IVF-PQ list
    // dirs, the token index's __pb buckets) trips Spark's partition
    // inference (CONFLICTING_DIRECTORY_STRUCTURES — the root names
    // themselves look partition-like); per-root reads infer each
    // batch's subdir columns independently and union cleanly, and are
    // byte-identical to the multi-path read for flat batches
    val merged = transform(
      batches.map(st => spark.read.parquet(st.getPath.toString))
        .reduce(_.unionByName(_, allowMissingColumns = evolve)))
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".staging-$newBatchId-${java.util.UUID.randomUUID().toString.take(8)}")
    val w = merged.write.mode("error")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    onBeforeCommit()
    val idsNow = listIds()
    require(idsNow.max < newBatchId,
      s"append raced the compaction: batch id ${idsNow.max} committed " +
        s"during the merge is >= newBatchId=$newBatchId — aborting")
    val dest = new org.apache.hadoop.fs.Path(root, s"batch=$newBatchId")
    require(!fs.exists(dest), s"batch $newBatchId already committed at $dest")
    require(fs.rename(tmp, dest), s"commit rename $tmp -> $dest failed")
    batches.foreach(st => fs.delete(st.getPath, true))
    batches.size
  }

  /** Write-once scalar META pinned beside a store (the `_dim` /
    * `_buckets` pattern): a store parameter whose mismatch would not
    * FAIL but silently corrupt the serve (a hashed store served at
    * the wrong dim scores zero overlap; a bucketed index pruned at
    * the wrong bucket count drops passages) is pinned in an
    * underscore meta file at first write, and every later write or
    * serve validates against it. Creating the meta on a root that
    * ALREADY has batches (a legacy pre-meta store) fails loudly
    * instead of committing mixed-parameter rows beside them. The one
    * protocol behind [[FeatureHashing]]'s `_dim`,
    * [[LateInteraction]]'s `_buckets` and [[Boilerplate]]'s
    * `_dbuckets`. */
  def ensureIntMeta(spark: SparkSession, root: String, metaName: String,
      what: String, value: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, metaName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) {
      val have = readIntMeta(spark, root, metaName, what)
      require(have == value,
        s"store at $root was written with $what=$have, got $what=$value")
    } else {
      val rp = new org.apache.hadoop.fs.Path(root)
      require(!fs.exists(rp) || !fs.listStatus(rp).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("batch=")),
        s"store at $root has batches but no $metaName meta — a " +
          "pre-meta legacy store; rebuild it rather than appending " +
          s"mixed-$what rows")
      commitIntMeta(spark, root, metaName, what, value)
    }
  }

  /** Pin a scalar meta WITHOUT the legacy-batches guard — the
    * migration seam for a store whose batches were just re-committed
    * under the new layout ([[Boilerplate.migrateLineDfStoreToBuckets]]).
    * Same commit protocol as [[ensureIntMeta]]'s first write. */
  private[graft] def commitIntMeta(spark: SparkSession, root: String,
      metaName: String, what: String, value: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, metaName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    locally {
      // stage-and-rename, like every other commit in this store: a
      // bare create+write crashed mid-write would leave an EMPTY meta
      // whose parse failure later reads as an opaque NumberFormat
      // error on every write and serve. The commit rename goes through
      // FileContext with Options.Rename.NONE, which FAILS on an
      // existing destination on every filesystem — FileSystem.rename
      // on local/POSIX atomically OVERWRITES an existing file, so two
      // racing first writers with different values could silently
      // commit the loser's pin, the exact mixed-parameter store this
      // meta exists to prevent. On the race the loser validates
      // against the winner's committed value; a final re-read verifies
      // the winner's own commit too (belt-and-braces on filesystems
      // with laxer rename semantics).
      val tmp = new org.apache.hadoop.fs.Path(root,
        s".$metaName-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(s"$value\n".getBytes("UTF-8")) finally out.close()
      val committed =
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(fs.makeQualified(p).toUri,
              spark.sessionState.newHadoopConf())
            .rename(fs.makeQualified(tmp), fs.makeQualified(p))
          true
        } catch { case _: java.io.IOException => false }
      if (!committed) fs.delete(tmp, false)
      val have = readIntMeta(spark, root, metaName, what)
      require(have == value,
        s"store at $root was written with $what=$have, got $what=$value")
    }
  }

  /** Read the [[ensureIntMeta]] scalar; fails loudly when absent. */
  def readIntMeta(spark: SparkSession, root: String, metaName: String,
      what: String): Int =
    readIntMetaOpt(spark, root, metaName, what).getOrElse(
      throw new IllegalArgumentException(
        s"no $metaName meta under $root — not a $what-pinned store"))

  /** [[readIntMeta]] returning `None` when the meta file is absent —
    * the legacy-layout fallback hook (a pre-meta store serves by its
    * unpruned path instead of failing). */
  def readIntMetaOpt(spark: SparkSession, root: String, metaName: String,
      what: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(root, metaName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw =
        try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      try Some(raw.toInt)
      catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt $metaName meta at $p (content: '$raw') — the " +
            s"write-once $what pin is unreadable; restore it to the " +
            s"store's original $what value (a single integer) before " +
            "writing or serving")
      }
    }
  }

  /** EXACT row count of a committed batch from its parquet FOOTERS —
    * driver-side metadata reads, zero Spark jobs. Sidecar-sketch
    * sizing needs the batch's row count right after [[append]], and a
    * `spark.read.parquet(...).count()` there schedules a full job
    * (scan tasks + result collection) to recover a number the footers
    * already record exactly (r19: one such job per store append,
    * across every lifecycle gate). Footer reads are one open+seek per
    * file — bounded by the batch's file count, the same listing the
    * write just performed. */
  def committedRowCount(spark: SparkSession, root: String,
      batchId: Long): Long = {
    val dir = new org.apache.hadoop.fs.Path(root, s"batch=$batchId")
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    walk(dir).map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try rdr.getRecordCount finally rdr.close()
    }.sum
  }

  /** Delete leftover `.staging-*` dirs from crashed [[append]]s.
    * Never touches committed batches; only run when no concurrent
    * writer is staging. Returns the number of dirs removed. */
  def vacuumStaging(spark: SparkSession, root: String): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count { st =>
      val stale = st.isDirectory && st.getPath.getName.startsWith(".staging-")
      if (stale) fs.delete(st.getPath, true)
      stale
    }
  }
}
