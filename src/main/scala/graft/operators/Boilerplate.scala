package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import TextFunctions.hash60

/** Boilerplate removal — the FIRST content stage of a web-scale
  * curation pipeline (the CCNet / RefinedWeb recipe: Wenzek et al.
  * 2020; Penedo et al. 2023): before any document-level dedup or
  * quality scoring, strip the LINES that repeat across many documents
  * of the same domain — navigation bars, cookie banners, headers,
  * footers, share buttons — which are per-DOMAIN artifacts invisible
  * to whole-document dedup (every page differs) and poisonous to
  * n-gram statistics (the LM learns the cookie banner).
  *
  * Rule: a line is boilerplate in a domain when it appears in at
  * least `minDf` DISTINCT documents of that domain. Detection is
  * ONE corpus-line shuffle keyed (domain, line-hash) — the 60-bit
  * md5 kernel ([[TextFunctions.hash60]]) keeps the shuffle rows
  * fixed-width and the oracle replayable. The strip side never
  * re-shuffles documents: the per-domain boilerplate line-hash SETS
  * (small by construction — only lines crossing the threshold) join
  * back on the domain key and each document filters its OWN line
  * array in place with a higher-order function, so documents are
  * never exploded-and-regrouped and their line order is free.
  *
  * Scale (100 TB): corpus is scanned twice (count pass + strip pass);
  * the only corpus-scale exchange is the (domain, line-hash) count.
  * The boilerplate-set frame is domains-sized rows; no broadcast
  * hint — AQE broadcasts when the sets fit, and a pathological domain
  * (millions of above-threshold lines) degrades to a shuffle join on
  * the domain key instead of an OOM.
  */
object Boilerplate {

  /** Markup strip — the other half of the CCNet first stage: drop
    * HTML/XML tags, replacing each with a space so adjacent words
    * don't fuse (`a</p><p>b` → `a b`, not `ab`). Intentionally
    * regex-simple (tags, not a parser): the curation goal is token
    * statistics, not DOM fidelity. */
  def stripMarkup(text: Column): Column =
    regexp_replace(text, "<[^>]*>", " ")

  /** Per-domain boilerplate lines: `(domainCol, __lh, df)` — every
    * (domain, line-hash) pair appearing in at least `minDf` distinct
    * documents of the domain. One corpus-line shuffle. */
  def repeatedLines(docs: DataFrame, idCol: String, domainCol: String,
      textCol: String, minDf: Long): DataFrame = {
    require(minDf >= 2, s"need minDf >= 2, got $minDf")
    lineDfCounts(docs, idCol, domainCol, textCol)
      .filter(col("cnt") >= minDf)
      .select(col(domainCol), col("__lh"), col("cnt").as("df"))
  }

  /** Strip per-domain repeated lines from every document: returns
    * `(idCol, domainCol, n_lines, n_kept, textCol)` with the
    * surviving lines re-joined in their original order; documents
    * whose every line was boilerplate are DROPPED (stripped-to-empty
    * = removed, the CCNet rule). Exact-line semantics: a line is the
    * maximal `\n`-free run; no normalization — normalize upstream
    * (e.g. [[stripMarkup]], trim) if near-identical lines should
    * count together. */
  def stripRepeatedLines(docs: DataFrame, idCol: String, domainCol: String,
      textCol: String, minDf: Long): DataFrame =
    stripAgainst(docs,
      repeatedLines(docs, idCol, domainCol, textCol, minDf),
      idCol, domainCol, textCol)

  /** The strip side against an explicit boilerplate frame
    * `(domainCol, __lh)` — shared by the in-memory path (df counted
    * on the same corpus) and the served path (df summed from the
    * persisted store). */
  private[operators] def stripAgainst(docs: DataFrame, boiler: DataFrame,
      idCol: String, domainCol: String, textCol: String): DataFrame = {
    val boilerSets = boiler
      .groupBy(col(domainCol)).agg(collect_set(col("__lh")).as("__bset"))
    docs.join(boilerSets, Seq(domainCol), "left")
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__kept", when(col("__bset").isNull, col("__lines"))
        .otherwise(filter(col("__lines"),
          l => !array_contains(col("__bset"), hash60(l)))))
      .filter(size(col("__kept")) > 0)
      .select(col(idCol), col(domainCol),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), "\n").as(textCol))
  }

  // ------------------------------------------ persisted line-df store

  /** One slice's per-(domain, line-hash) DISTINCT-DOC counts
    * `(domainCol, __lh, cnt)` — the boilerplate detector's model
    * artifact. Counts from DISJOINT document slices merge by SUM
    * (each document contributes exactly 1 per distinct line it
    * carries), which is what makes the persisted form maintainable
    * by the count-store delta discipline. */
  def lineDfCounts(docs: DataFrame, idCol: String, domainCol: String,
      textCol: String): DataFrame =
    // adaptive parallelism floor (guide §2.5, r19): line split + md5
    // inherit the scan's task count otherwise
    Parallelism.spread(docs, idCol)
      .select(col(idCol), col(domainCol),
        explode(split(col(textCol), "\n")).as("__line"))
      .select(col(idCol), col(domainCol), hash60(col("__line")).as("__lh"))
      .distinct()
      .groupBy(col(domainCol), col("__lh"))
      .agg(count(lit(1)).as("cnt"))

  /** Default domain-bucket count for the store's partitioned layout —
    * the [[LateInteraction.DefaultBuckets]] sizing logic: the line-df
    * store is the pipeline's LARGEST count store (corpus-line
    * cardinality), and the serve reads only the batch's domains'
    * buckets, so a production store wants enough buckets that one
    * slice's domains open a small fraction of the dirs (1024+ at
    * 100 TB); gate scale keeps it small so batches aren't shredded
    * into empty dirs. Fixed at first append (`_dbuckets` meta). */
  val DefaultDomainBuckets: Int = 16

  /** The store's partition key: a deterministic hash of the domain
    * into `[0, buckets)`. Never oracle-visible — it moves bytes, not
    * values (the [[LateInteraction]] `__pb` discipline). */
  private def domainBucket(domainCol: String, buckets: Int) =
    pmod(xxhash64(col(domainCol)), lit(buckets.toLong))

  private def storedDomainBuckets(spark: SparkSession,
      root: String): Option[Int] =
    BatchStore.readIntMetaOpt(spark, root, "_dbuckets", "domain-buckets")

  /** Append one document slice's line-df counts to the persisted
    * detector at `root` — the [[LanguageModel.writeLmStore]] delta
    * discipline on the boilerplate model: a daily slice appends only
    * its own counts; the served threshold reads the sum-on-read
    * union, so line statistics are never recomputed over history.
    * Batches are partitioned into `buckets` domain-hash dirs
    * (`batch=<id>/__db=<b>/…`, write-once `_dbuckets` meta) so the
    * served strip opens only the BATCH'S domains' buckets — per-epoch
    * scan input scales with the slice's domains, not the store
    * ([[stripRepeatedLinesFromStore]]).
    *
    * MIGRATION (breaking for pre-bucketed stores): a legacy FLAT
    * line-df store (batches but no `_dbuckets` meta) cannot be
    * appended to — `ensureIntMeta` fails loudly rather than commit
    * bucketed rows beside flat ones. Reads
    * ([[stripRepeatedLinesFromStore]], [[deleteFromLineDfStore]],
    * [[compactLineDfStore]]) keep serving a legacy store unpruned;
    * only new APPENDS require the rebuild. To migrate, re-commit the
    * history under the bucketed layout once:
    * [[migrateLineDfStoreToBuckets]]. */
  def writeLineDfStore(docs: DataFrame, idCol: String, domainCol: String,
      textCol: String, root: String, batchId: Long,
      buckets: Int = DefaultDomainBuckets): Unit = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    BatchStore.ensureIntMeta(docs.sparkSession, root, "_dbuckets",
      "domain-buckets", buckets)
    BatchStore.append(
      bucketAligned(lineDfCounts(docs, idCol, domainCol, textCol),
        domainCol, buckets),
      root, batchId, partitionBy = Seq("__db"))
  }

  /** Add the `__db` partition key and ALIGN tasks to it before a
    * partitioned write: without the repartition every shuffle task
    * fans across all bucket dirs (tasks × buckets small files per
    * batch — measured the dominant cost of the layout at gate scale);
    * with it each bucket lands as one file. The extra exchange is
    * delta-sized (the slice's counts). */
  private def bucketAligned(counts: DataFrame, domainCol: String,
      buckets: Int): DataFrame =
    counts.withColumn("__db", domainBucket(domainCol, buckets))
      .repartition(buckets, col("__db"))

  /** Maintain the detector FROM A STREAM — the exactly-once epoch
    * discipline shared by every count store ([[LanguageModel
    * .lmStoreSink]], [[BatchStore.epochSink]]). */
  def lineDfStoreSink(idCol: String, domainCol: String, textCol: String,
      root: String): (DataFrame, Long) => Unit =
    BatchStore.epochSink(root)(
      writeLineDfStore(_, idCol, domainCol, textCol, root, _))

  /** Erase documents from the persisted detector — negated line-df
    * counts ([[LanguageModel.deleteFromLmStore]]'s contract: each doc
    * at most once, only previously-appended docs, fresh batchId). A
    * takedown's lines stop counting toward the threshold on the very
    * next serve, with no history recount. */
  def deleteFromLineDfStore(deleted: DataFrame, idCol: String,
      domainCol: String, textCol: String, root: String, batchId: Long): Unit = {
    val negated = lineDfCounts(deleted, idCol, domainCol, textCol)
      .select(col(domainCol), col("__lh"), (-col("cnt")).as("cnt"))
    storedDomainBuckets(deleted.sparkSession, root) match {
      case Some(n) => BatchStore.append(
        bucketAligned(negated, domainCol, n),
        root, batchId, partitionBy = Seq("__db"))
      case None => BatchStore.append(negated, root, batchId) // legacy flat
    }
  }

  /** Fold the detector's delta batches into one physically-clean dir —
    * fail loudly on negative net counts, drop net-zero keys
    * ([[LanguageModel.foldNonNegativeCounts]]). Serving before and
    * after is value-identical (q216 pins it in-plan). */
  def compactLineDfStore(spark: SparkSession, root: String, domainCol: String,
      newBatchId: Long): Int = {
    def fold(m: DataFrame) =
      LanguageModel.foldNonNegativeCounts(m, Seq(domainCol, "__lh"))
    storedDomainBuckets(spark, root) match {
      // re-establish the __db layout on the merged batch (a flat
      // compaction would silently forfeit the serve's dir pruning)
      case Some(n) => BatchStore.compact(spark, root, newBatchId,
        m => bucketAligned(fold(m.drop("__db")), domainCol, n),
        () => (), partitionBy = Seq("__db"))
      case None => BatchStore.compactWith(spark, root, newBatchId, fold)
    }
  }

  /** ONE-SHOT migration of a pre-bucketed (flat) line-df store to the
    * `__db`-partitioned layout: fold every flat batch into one
    * bucketed batch (the [[compactLineDfStore]] fold), then pin the
    * `_dbuckets` meta — after which appends work again and serves
    * prune. Crash-safe without reader coordination: before the
    * compaction rename the legacy store is untouched; between the
    * rename and the meta pin the store still serves correctly (reads
    * fall back to the flat path — the `__db` column just rides along)
    * and a RE-RUN with a fresh `newBatchId` completes the pin. Fails
    * loudly on a store that is already bucketed. Single maintainer,
    * like every compaction. Returns the batch dirs folded. */
  def migrateLineDfStoreToBuckets(spark: SparkSession, root: String,
      domainCol: String, newBatchId: Long,
      buckets: Int = DefaultDomainBuckets): Int = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    require(storedDomainBuckets(spark, root).isEmpty,
      s"store at $root already carries a _dbuckets meta — nothing to migrate")
    val folded = BatchStore.compact(spark, root, newBatchId,
      m => bucketAligned(
        LanguageModel.foldNonNegativeCounts(
          if (m.columns.contains("__db")) m.drop("__db") else m,
          Seq(domainCol, "__lh")),
        domainCol, buckets),
      () => (), partitionBy = Seq("__db"))
    BatchStore.commitIntMeta(spark, root, "_dbuckets", "domain-buckets",
      buckets)
    folded
  }

  /** [[stripRepeatedLines]] with the line statistics summed from the
    * persisted store — one (domain, line-hash)-keyed re-aggregate
    * (net-zero rows dropped), threshold, then the identical in-row
    * strip; value-identical to counting on the appended-minus-erased
    * corpus (oracle-gated, q216). `docs` is the frame to STRIP — at a
    * daily cadence, today's slice against the accumulated corpus
    * statistics.
    *
    * Scale: the store is the pipeline's largest count store, and this
    * serve is per-epoch in the streamed DAG — so the scan is pruned
    * to the BATCH'S domains before anything re-aggregates: the
    * batch's distinct domain-hash buckets (≤ `_dbuckets` rows,
    * driver-safe at any slice size) become a PARTITION filter on the
    * `__db` dirs, then an exact broadcast semi-join on the domain
    * values drops same-bucket strangers. Per-epoch store input scales
    * with the slice's domains, not the corpus (MetricsSpec pins input
    * records; a legacy flat store falls back to the full scan +
    * semi-join). */
  /** The store's FULL above-threshold boilerplate frame
    * `(domainCol, __lh, df)` — [[repeatedLines]] replayed from the
    * persisted counts, batch-independent. This is the frame a
    * cross-epoch cache holds ([[ModelCache]]): one store re-aggregate
    * serves every epoch until the store changes, where the pruned
    * per-call path ([[stripRepeatedLinesFromStore]]) re-scans the
    * batch's buckets per serve — the right trade flips exactly when
    * serves-per-store-change exceeds ~the store/batch domain ratio. */
  def repeatedLinesFromStore(spark: SparkSession, root: String,
      domainCol: String, minDf: Long): DataFrame = {
    require(minDf >= 2, s"need minDf >= 2, got $minDf")
    BatchStore.read(spark, root)
      .groupBy(col(domainCol), col("__lh"))
      .agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0 && col("cnt") >= minDf)
      .select(col(domainCol), col("__lh"), col("cnt").as("df"))
  }

  /** Below BOTH thresholds the serve skips the pruning machinery
    * entirely (no bucket-collect job, no partition filter, no
    * broadcast semi-join — one flat aggregate): measured at gate
    * scale the layout's serve constants exceeded what pruning saves
    * (q216 ran 1.7× its flat time on a 3-small-batch store), and the
    * flat serve is value-identical by construction. Both checks are
    * listing-cheap: the byte walk only runs when the batch count is
    * already below its threshold. */
  private val MinBatchesForDomainPrune: Int = 4
  private val MinBytesForDomainPrune: Long = 256L << 20

  private def smallStore(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) return true
    val batches = fs.listStatus(p).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch="))
    batches.length < MinBatchesForDomainPrune &&
      batches.map(st => fs.getContentSummary(st.getPath).getLength)
        .sum < MinBytesForDomainPrune
  }

  def stripRepeatedLinesFromStore(spark: SparkSession, root: String,
      docs: DataFrame, idCol: String, domainCol: String, textCol: String,
      minDf: Long): DataFrame = {
    require(minDf >= 2, s"need minDf >= 2, got $minDf")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (smallStore(fs, root))
      return stripAgainst(docs,
        repeatedLinesFromStore(spark, root, domainCol, minDf),
        idCol, domainCol, textCol)
    val domains = docs.select(col(domainCol)).distinct()
    val pruned = storedDomainBuckets(spark, root) match {
      case Some(n) =>
        val bks = domains.select(domainBucket(domainCol, n).as("__db"))
          .distinct().collect().map(_.getLong(0)).sorted
        val st = BatchStore.read(spark, root)
        if (bks.isEmpty) st.filter(lit(false))
        else {
          // hit the partition column at its DISCOVERED type: small
          // dir values infer as int, and a long literal would wrap
          // the column in a cast and forfeit directory pruning (the
          // [[LateInteraction.prunedStoreRead]] rule)
          val lits: Seq[Any] = st.schema("__db").dataType match {
            case org.apache.spark.sql.types.IntegerType =>
              bks.toSeq.map(_.toInt)
            case _ => bks.toSeq
          }
          st.filter(col("__db").isin(lits: _*))
        }
      case None => BatchStore.read(spark, root)
    }
    val boiler = pruned
      .join(broadcast(domains), Seq(domainCol), "left_semi")
      .groupBy(col(domainCol), col("__lh"))
      .agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0 && col("cnt") >= minDf)
    stripAgainst(docs, boiler, idCol, domainCol, textCol)
  }
}
