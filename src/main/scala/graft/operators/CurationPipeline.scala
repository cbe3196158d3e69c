package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** THE END-TO-END STREAMED CURATION DAG — the composition a real
  * 100 TB pretraining pipeline runs continuously, assembled from
  * stages this library already serves individually (each one
  * oracle-gated in isolation):
  *
  *   raw slice → markup strip → boilerplate strip (served from the
  *   persisted line-df store, q216) → exact dedup against the
  *   signature store + in-batch (first-arrival keeper, q132/q142's
  *   incremental discipline) → quality-classifier gate (q210's
  *   store) → LM perplexity gate at an ABSOLUTE cut (the streamed
  *   twin of q211 — a per-batch quantile would depend on micro-batch
  *   composition) → deterministic mixture coin → exactly-once kept
  *   shard append.
  *
  * [[processSlice]] is the per-micro-batch body; [[sink]] wraps it in
  * the count-store epoch discipline (batch id = base + epochId,
  * committed epochs no-op on replay) for `foreachBatch`;
  * [[packedShards]] is the post-stream export ([[Packing
  * .packSequences]] over the kept store — packing is corpus-global
  * by design, so it runs on the accumulated store, the daily "pack
  * what landed" job).
  *
  * Slice-order semantics are explicit: the surviving set equals a
  * SEQUENTIAL batch fold over the same slices in the same order
  * (spec-pinned) — dedup keeps first arrival (then min id within a
  * slice); every other gate is per-doc deterministic given the
  * pre-trained stores, so slicing cannot change it.
  *
  * Scale: each stage keeps its own gated shape — the boilerplate
  * strip joins the batch against the (domain, line)-keyed model, the
  * dedup reads only the signature store's digest column and
  * broadcasts the BATCH side (delta-sized, never history-shuffled),
  * the classifier/LM models re-aggregate store deltas (model-sized),
  * and the mixture coin is map-side. No stage shuffles the corpus
  * beyond its own gated plan; the stream adds only the kept append.
  */
object CurationPipeline {

  /** The pipeline's persisted stores: pre-trained models (line-df,
    * quality, LM) plus the two the stream MAINTAINS (signatures,
    * kept) — and, optionally, the DISPOSITION LEDGER (`ledger`): one
    * row per input document per epoch recording the FIRST gate that
    * dropped it (`stage` ∈ dedup | quality | lm | mixture | kept).
    * At 100 TB this is how you answer "why did retention fall 3%
    * yesterday" without re-running the pipeline — the audit surface
    * every production curation DAG carries. Ledger rows are
    * id-projected and delta-sized (one per slice doc), committed with
    * the same exactly-once epoch discipline as the kept store. */
  final case class Stores(lineDf: String, quality: String, lm: String,
      signatures: String, kept: String, ledger: Option[String] = None)

  /** Near-dup admission parameters for the DAG's dedup stage — the
    * RefinedWeb/FineWeb discipline: suppress a slice doc whose
    * stripped text is a banded-MinHash near duplicate (Jaccard ≥
    * `threshold`) of PRIOR epochs' kept content, not just an exact
    * re-crawl. Semantics are [[Dedup.nearDupAdmitSlice]]'s: in-slice
    * NEAR dups are both kept (history-vs-delta contract), in-slice
    * exact dups keep the min id, rejected docs never enter the
    * store. */
  final case class NearDup(k: Int, shingleN: Int, bands: Int,
      threshold: Double)

  /** Gate constants: boilerplate df threshold, classifier feature
    * buckets, the label the classifier must assign to keep a doc,
    * the absolute LM cut, and the deterministic mixture predicate
    * (a Column over the batch's columns — e.g. a [[TextFunctions
    * .hash60]] coin keyed on (domain, id) with per-domain rates).
    * `nearDup` upgrades the dedup stage from exact-only to
    * exact+near ([[NearDup]]); the signature store then persists
    * full MinHash rows (banded, Bloom-sidecarred) instead of
    * digest-only rows. */
  final case class Gates(minDf: Long, buckets: Int, keepLabel: String,
      lmCutAvgFp: Double, mixKeep: Column,
      nearDup: Option[NearDup] = None)

  /** Label the jobs a stage body triggers (guide §1.5: readable UI /
    * profiler attribution). Thread-local, restored after; purely
    * cosmetic — no plan or semantic effect. */
  private def labeled[T](spark: SparkSession, stage: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"curation: $stage")
    try body
    finally sc.setJobDescription(prev)
  }

  private def hasBatches(spark: SparkSession, root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch="))
  }

  /** Run one slice through every gate and commit its survivors (and
    * their signatures) as batch `batchId` — idempotent: an epoch
    * whose kept batch is already committed no-ops entirely (the
    * exactly-once replay discipline every store sink here shares).
    *
    * `models`: a cross-epoch [[ModelCache]] — the three PRE-TRAINED
    * model serves (boilerplate threshold frame, classifier counts, LM
    * counts) re-aggregate their stores once and serve every following
    * epoch from the pinned frame until the store changes, instead of
    * paying a store-sized scan + re-aggregate per micro-batch
    * ([[sink]] wires one per stream; `None` keeps the stateless
    * one-shot behavior, every serve released before return). */
  def processSlice(spark: SparkSession, st: Stores, gates: Gates,
      batch: DataFrame, idCol: String, domainCol: String, textCol: String,
      batchId: Long, models: Option[ModelCache] = None): Unit = {
    // each store root resolves its OWN FileSystem — kept on an object
    // store with the ledger on HDFS (a plausible split: the audit
    // surface is dashboard-queried) must not throw Wrong FS
    def existsAt(p: org.apache.hadoop.fs.Path): Boolean =
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    val keptDir = new org.apache.hadoop.fs.Path(st.kept, s"batch=$batchId")
    if (existsAt(keptDir)) return // replayed epoch: already committed

    // the epoch runs in one pin scope: every slice-sized pin it takes
    // (its own, the gates', the signature writer's) is released when
    // it ends — an exception mid-epoch (classifier/LM failure, append
    // race) included, so a long-running stream never leaks one pinned
    // slice per epoch
    Checkpoints.scoped {
      // adaptive parallelism floor (guide §2.5, r19), NEAR MODE ONLY —
      // measured: a micro-batch arrives as one staged file = one scan
      // task, and near mode's MinHash signing is the epoch's one
      // corpus-grade map chain above it (the spread took the signing
      // pass 889 ms → 213 ms per run, q241 1.6×). Exact mode has no
      // such chain — there the spread only fanned every later slice-
      // sized stage (pins, ledger diff, appends) across cores-many
      // kilobyte tasks and cost more than its md5 saved (q243 +1.3 s) —
      // so it keeps the arrival layout.
      val spreadBatch =
        if (gates.nearDup.isDefined) Parallelism.spread(batch, idCol)
        else batch

      // 1. markup + boilerplate strip served from the line-df store
      // (cached: the above-threshold frame is batch-independent, so one
      // store re-aggregate serves every epoch until the store changes)
      val marked = spreadBatch.withColumn(textCol,
        Boilerplate.stripMarkup(col(textCol)))
      val stripped = models match {
        case Some(mc) => Boilerplate.stripAgainst(marked,
          mc.cached(spark, st.lineDf, s"boiler-minDf=${gates.minDf}")(
            Boilerplate.repeatedLinesFromStore(spark, st.lineDf, domainCol,
              gates.minDf)),
          idCol, domainCol, textCol)
        case None => Boilerplate.stripRepeatedLinesFromStore(spark, st.lineDf,
          marked, idCol, domainCol, textCol, gates.minDf)
      }

      // 2. exact dedup: against the signature store (history = all
      // prior epochs), then first-min-id within the batch; the batch
      // pins once — it feeds the store anti-join, the window, and the
      // downstream gates
      val ledgerOn = st.ledger.isDefined
      val hashed = labeled(spark, "strip+hash") {
        stripped.withColumn("__chash", md5(col(textCol)))
          .transform(Checkpoints.pin)
      }
      // history = batches STRICTLY BEFORE this epoch: a replay in the
      // crash window (signatures committed, kept batch not) would
      // otherwise dedup the slice against its OWN just-committed
      // signatures and re-commit an EMPTY kept batch — silent loss of
      // the whole slice (spec-pinned: the retry must re-commit the
      // full survivor set)
      // the [[Dedup.incrementalDedupFromStore]] exact-pass shape: the
      // history's digests stream MAP-SIDE against the broadcast batch
      // digest set (the matched set is ≤ batch-sized by the distinct),
      // then the batch anti-joins the broadcast matched set — the
      // signature store contributes ~zero shuffle bytes per epoch at
      // ANY history depth (MetricsSpec pins it measured; the naive
      // `store.distinct()` anti-join this replaced shuffled the whole
      // history's digests every micro-batch). The digest SCAN is
      // Bloom-pruned too ([[Dedup.storeDigestsPruned]]): only the
      // strictly-prior batches whose sidecar sketch might contain one
      // of the slice's digests are read, so per-epoch store input
      // scales with the slice's collisions, not corpus age (the last
      // history-proportional term in this stage).
      // near mode signs the slice ONCE (r18): the pinned signature frame
      // feeds BOTH the dedup verdicts and the epoch's signature-store
      // append below — the text-fed path shingled + hashed the slice
      // twice per epoch (once inside the serve, once inside the store
      // write), and the signing pass is the stage's dominant map cost
      // at any scale. chash reuses the already-computed __chash.
      val signedNd = gates.nearDup.map { nd =>
        labeled(spark, "slice signing") {
          Dedup.dedupSignaturesFromHashed(hashed, idCol, "__chash",
            textCol, nd.k, nd.shingleN)
        }
      }
      val vsStore =
        if (!hasBatches(spark, st.signatures)) hashed
        else gates.nearDup match {
          case Some(nd) =>
            // exact + near verdicts against prior epochs' kept content
            // ([[Dedup.incrementalDedupFromStoreAtSigned]] — Bloom-
            // pruned, broadcast-batch-only joins, history never
            // shuffles; fed the pre-signed slice)
            val verd = labeled(spark, "dedup near serve") {
              Dedup.incrementalDedupFromStoreAtSigned(spark,
                st.signatures, signedNd.get, idCol, nd.k,
                nd.bands, nd.threshold, beforeBatch = Some(batchId))
            }
            val clean = verd
              .filter(!col("is_exact_dup") && col("n_near_dups") === 0)
              .select(col(idCol))
            hashed.join(broadcast(clean), Seq(idCol))
          case None =>
            val matched = labeled(spark, "dedup exact serve") {
              Dedup.storeDigestsPruned(spark, st.signatures,
                hashed.select(col("__chash")), beforeBatch = Some(batchId))
              .select(col("chash").as("__chash"))
              .join(broadcast(hashed.select(col("__chash")).distinct()),
                Seq("__chash"))
              .distinct()
            }
            hashed.join(broadcast(matched), Seq("__chash"), "left_anti")
        }
      val keeper = Window.partitionBy(col("__chash"))
      val kept0 = vsStore
        .withColumn("__keep", min(col(idCol)).over(keeper))
        .filter(col(idCol) === col("__keep"))
        .drop("__chash", "__keep")
      // the dedup survivors feed THREE consumers (the signature append,
      // the classifier gate, the keptGood join — plus the disposition
      // diff with the ledger on): pin once so the window + store joins
      // run once per epoch, not once per consumer (r19; r18 pinned only
      // under the ledger)
      val kept = labeled(spark, "kept pin") { kept0.transform(Checkpoints.pin) }

      // 3 ∥ 4 (r19, guide §2.6): the signature append and the
      // classifier gate are INDEPENDENT legs over the pinned survivors
      // (the append writes the dedup store; the classifier only reads
      // the quality store), so they overlap — each leg's job tail
      // back-fills the other's idle cores. Commit-order discipline is
      // unchanged: signatures still commit before the ledger and the
      // kept batch.
      //
      // 3. the new content's signatures join the store BEFORE the
      // quality gates — dedup is about having SEEN content, not about
      // having kept it (a rejected doc's re-crawl must not re-enter).
      // Guarded for the crash-between-commits replay window: a retry
      // that already committed its signatures but not its kept batch
      // must no-op here and still commit the kept batch below.
      val sigDir = new org.apache.hadoop.fs.Path(st.signatures,
        s"batch=$batchId")
      val signatureAppend: () => DataFrame = () => {
        if (!existsAt(sigDir)) labeled(spark, "signature append") {
          gates.nearDup match {
            case Some(nd) => Dedup.writeSignatureStoreBandedSigned(
              signedNd.get.join(broadcast(kept.select(col(idCol))), Seq(idCol)),
              idCol, nd.k, nd.bands, st.signatures, batchId)
            case None => Dedup.writeSignatureStore(kept, idCol, textCol,
              k = 4, shingleN = 3, root = st.signatures, batchId = batchId)
          }
        }
        null
      }

      // 4. classifier gate (model re-aggregated from the store's deltas
      // — cached across epochs when `models` is wired). `classified` is
      // classify's pinned output, released when the epoch's scope ends.
      val classifierGate: () => DataFrame = () =>
        labeled(spark, "classifier gate") { models match {
        case Some(mc) =>
          // counts AND the model-derived classes frame are both cached
          // per store version — a steady-state epoch pays zero
          // model-sized aggregations here (r18; classify() used to
          // re-run the per-class totals + vocab size every micro-batch).
          // ONE cachedDerived entry (r19): base counts and the classes
          // frame share one fingerprint taken at one instant, so a store
          // change landing mid-epoch can never pair fresh counts with a
          // stale derived frame (or vice versa).
          val (cb, derived) = mc.cachedDerived(spark, st.quality,
            s"quality-b=${gates.buckets}")(
            LanguageModel.mergedStoreCounts(spark, st.quality,
              Seq("label", "bucket")))(
            b => Seq(QualityClassifier.classModel(b)))
          QualityClassifier.classifyWith(kept, cb, derived.head, idCol,
            textCol, gates.buckets)
        case None => QualityClassifier.classifyFromStore(spark, st.quality,
          kept, idCol, textCol, gates.buckets)
      } }
      val classified = ParallelJobs.map(
        Seq(signatureAppend, classifierGate), parallelism = 2)(1)
      val good0 = classified
        .filter(col("label_pred") === gates.keepLabel)
        .select(col(idCol))
      val good = if (ledgerOn) labeled(spark, "good pin") {
        good0.transform(Checkpoints.pin) } else good0
      val keptGood = kept.join(good, Seq(idCol))

      // 5. LM perplexity gate at the absolute cut
      val lmOk = labeled(spark, "lm gate") { models match {
        case Some(mc) =>
          // same discipline as the classifier: per-context totals and
          // vocab size cached per store version (r18), all three frames
          // under ONE cachedDerived entry / fingerprint (r19 coherence)
          val (cb, derived) = mc.cachedDerived(spark, st.lm, "lm-bigrams")(
            LanguageModel.mergedStoreCounts(spark, st.lm, Seq("w1", "w2")))(
            b => Seq(LanguageModel.lmContextTotals(b),
              LanguageModel.lmVocabSize(b)))
          LanguageModel.lmThresholdFilterWith(keptGood, cb, derived(0),
            derived(1), idCol, textCol, gates.lmCutAvgFp)
        case None => LanguageModel.lmThresholdFilterFromStore(spark, st.lm,
          keptGood, idCol, textCol, gates.lmCutAvgFp)
      } }
      val survivors = keptGood.join(lmOk.select(col(idCol)), Seq(idCol))

      // 6. deterministic mixture coin; the final kept slice
      val finalKept = survivors.filter(gates.mixKeep)

      // 7. the disposition ledger: one row per INPUT doc — the first
      // gate that dropped it, or `kept`, computed as ONE pass over the
      // pinned slice with four broadcast membership flags and a CASE
      // (r18: replaced five unioned anti-join branches that re-scanned
      // the stage sets — same rows, the oracle's own CASE shape, one
      // slice scan + 4 broadcast joins instead of 5 scans + a union
      // exchange). The stage sets partition the slice because each gate
      // filters the previous gate's survivors: absent-from-kept ⇒
      // dedup, else absent-from-good ⇒ quality, else absent-from-lmOk
      // ⇒ lm, else absent-from-finalKept ⇒ mixture, else kept.
      // Committed BEFORE the kept batch so the crash-between-commits
      // replay window stays covered (a retry that committed the ledger
      // but not the kept batch skips here and still commits below —
      // the signature-store discipline).
      st.ledger.foreach { lroot =>
        val ldir = new org.apache.hadoop.fs.Path(lroot, s"batch=$batchId")
        if (!existsAt(ldir)) {
          def flag(f: DataFrame, name: String) =
            broadcast(f.select(col(idCol)).withColumn(name, lit(true)))
          val disposition = hashed.select(col(idCol), col(domainCol))
            .join(flag(kept, "__k"), Seq(idCol), "left")
            .join(flag(good, "__g"), Seq(idCol), "left")
            .join(flag(lmOk, "__l"), Seq(idCol), "left")
            .join(flag(finalKept, "__f"), Seq(idCol), "left")
            .withColumn("stage",
              when(col("__k").isNull, "dedup")
                .when(col("__g").isNull, "quality")
                .when(col("__l").isNull, "lm")
                .when(col("__f").isNull, "mixture")
                .otherwise("kept"))
            .select(col(idCol), col(domainCol), col("stage"))
          labeled(spark, "ledger append") {
            BatchStore.append(disposition, lroot, batchId) }
        }
      }

      // 8. the exactly-once kept commit
      labeled(spark, "kept append") {
        BatchStore.append(
          finalKept.select(col(idCol), col(domainCol), col(textCol)),
          st.kept, batchId)
      }
    }
  }

  /** Masked KEPT-CORPUS read: the committed survivors minus tombstoned
    * ids. The kept store is the PRIMARY copy a takedown exists for —
    * every derived index can be clean and the corpus still serves the
    * document if this read is unmasked; it is registered in
    * [[Erasure]] as `KeptStore` ([[Tombstones]] discipline) and
    * [[packedShards]] exports through it, so a post-takedown shard
    * build cannot re-pack forgotten text. */
  def readKept(spark: SparkSession, root: String, idCol: String): DataFrame =
    Tombstones(spark, root, BatchStore.read(spark, root), idCol)

  /** Tombstone `ids` out of the kept corpus (mask-on-read). */
  def deleteFromKept(ids: DataFrame, idCol: String, root: String,
      batchId: Long): Unit =
    Tombstones.append(ids, idCol, root, batchId)

  /** Physically drop tombstoned survivors and retire the applied
    * tombstones. */
  def purgeKept(spark: SparkSession, root: String, idCol: String,
      newBatchId: Long): Int =
    Tombstones.purge(spark, root, idCol, newBatchId)

  /** Masked disposition-ledger read: committed dispositions minus
    * tombstoned ids — the audit trail is itself per-doc personal data,
    * so a takedown must forget it too ([[Tombstones]] discipline,
    * registered in [[Erasure]] as `LedgerStore`). */
  def readLedger(spark: SparkSession, root: String,
      idCol: String): DataFrame =
    Tombstones(spark, root, BatchStore.read(spark, root), idCol)

  /** Tombstone `ids` out of every ledger serve (mask-on-read;
    * delete-volume-sized). */
  def deleteFromLedger(ids: DataFrame, idCol: String, root: String,
      batchId: Long): Unit =
    Tombstones.append(ids, idCol, root, batchId)

  /** Physically drop tombstoned dispositions and retire the applied
    * tombstones (maintenance window). */
  def purgeLedger(spark: SparkSession, root: String, idCol: String,
      newBatchId: Long): Int =
    Tombstones.purge(spark, root, idCol, newBatchId)

  /** RETENTION for the disposition ledger: physically drop every
    * ledger batch with id < `cutoffBatchId`. The ledger is the one
    * store in the DAG that grows UNBOUNDED BY DESIGN — one row per
    * input doc per epoch, forever (~18 GB/year per daily 10M-doc
    * slice at the measured ~5 B/row parquet) — and the only store
    * nothing
    * recomputes from: the funnel is a dashboard over a recent window,
    * dedup reads signatures, rebuilds read the kept store. So its
    * maintenance is retention, not compaction: a year-long run keeps
    * a sliding audit window (e.g. 90 epochs) and drops the tail.
    * Epoch batch dirs are the retention unit — each deleted whole, so
    * a retained batch's funnel rows are always complete. Tombstone
    * batches are NOT touched: they mask future serves of ids that may
    * still appear in RETAINED epochs (and ride their own [[Tombstones
    * .purge]] lifecycle). Single maintainer, like every store
    * maintenance op. Returns the batch dirs removed. */
  def retireLedgerBefore(spark: SparkSession, root: String,
      cutoffBatchId: Long): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count { st =>
      val n = st.getPath.getName
      val drop = st.isDirectory && n.startsWith("batch=") &&
        n.stripPrefix("batch=").toLong < cutoffBatchId
      if (drop) fs.delete(st.getPath, true)
      drop
    }
  }

  /** The RETENTION FUNNEL over a disposition ledger read ([[Stores
    * .ledger]] via [[readLedger]]): per (batch, stage) — docs exiting
    * at that stage, docs that REACHED it, the exit rate, AND the
    * epoch retention. `n_reached(s)` = Σ n_exited over stages ≥ s in
    * pipeline order (dedup → quality → lm → mixture → kept). Note the
    * terminal `kept` row's `exit_rate` is 1.0 BY CONSTRUCTION
    * (everything that reaches it exits there) — the number a
    * dashboard wants is `retention` = n_exited(kept) / the epoch's
    * total input, emitted on every row of the batch. Input is
    * ledger-sized (one row per doc per epoch) and the rollup is
    * (batches × 5) rows — dashboard-sized at any corpus scale. */
  def funnel(ledger: DataFrame): DataFrame = {
    val ord = when(col("stage") === "dedup", 1)
      .when(col("stage") === "quality", 2)
      .when(col("stage") === "lm", 3)
      .when(col("stage") === "mixture", 4)
      .otherwise(5)
    val byBatch = Window.partitionBy(col("batch"))
    ledger.groupBy(col("batch"), col("stage"))
      .agg(count(lit(1)).as("n_exited"))
      .withColumn("__ord", ord)
      .withColumn("n_reached", sum(col("n_exited")).over(
        byBatch.orderBy(col("__ord").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("exit_rate",
        col("n_exited").cast("double") / col("n_reached"))
      .withColumn("retention",
        sum(when(col("stage") === "kept", col("n_exited"))
          .otherwise(lit(0L))).over(byBatch).cast("double")
          / sum(col("n_exited")).over(byBatch))
      .drop("__ord")
  }

  /** [[processSlice]] as a `foreachBatch` sink — batch id = `1 +
    * epochId`, the exactly-once epoch discipline shared by every
    * store sink in the library. `models` (a per-stream
    * [[ModelCache]], recommended for any multi-epoch run) makes the
    * three pre-trained model serves one-time costs instead of
    * per-micro-batch ones; the caller releases it
    * (`models.releaseAll()`) when the stream ends. */
  def sink(st: Stores, gates: Gates, idCol: String, domainCol: String,
      textCol: String,
      models: Option[ModelCache] = None): (DataFrame, Long) => Unit =
    (batch, epochId) => processSlice(batch.sparkSession, st, gates,
      batch, idCol, domainCol, textCol, 1L + epochId, models)

  /** The post-stream export: [[Packing.packSequences]] over the
    * accumulated kept store, summarized per shard. Packing is
    * corpus-global (a doc's sequence offset depends on every doc in
    * its shard), so it runs on the store, not per epoch. */
  def packedShards(spark: SparkSession, st: Stores, idCol: String,
      textCol: String, shards: Int, budgetTokens: Long): DataFrame =
    Packing.packSequences(readKept(spark, st.kept, idCol), idCol, textCol,
        shards, budgetTokens)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_seqs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddles"))
      .orderBy(col("shard"))
}
