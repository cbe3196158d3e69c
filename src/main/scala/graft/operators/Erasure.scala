package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CROSS-STORE ERASURE — the "forget this id EVERYWHERE" composition
  * (GDPR/takedown): every persisted store in the library already has
  * its own delete (tombstone batch for row stores, negated count
  * delta for aggregate stores — q188–q192, q199, q201, q216) and its
  * own purge/compact; this operator fans ONE erased document slice
  * across a REGISTRY of stores, so a real takedown is one call, not
  * ten hand-sequenced ones where a forgotten store silently keeps
  * serving the data.
  *
  * Scale: the erased slice is pinned once ([[graft.operators
  * .Checkpoints]] — each store's delete derives its delta from the
  * SAME materialized rows; no per-store corpus re-scan, and a
  * non-deterministic input cannot commit DIFFERENT deltas to
  * different stores, which would be an erasure-contract violation
  * discovered only at compaction). Each per-store delete keeps its
  * own scale shape (tombstones are delete-volume-sized; count deltas
  * are delta-keyed aggregates). Purge is per-store compaction —
  * store-sized, run in a maintenance window, order-independent.
  */
object Erasure {

  /** One registered store: where it lives and which delete/purge
    * discipline it takes. Column names beyond (id, text) ride the
    * ref because they are properties of the STORE's keying, not of
    * the erased slice. */
  sealed trait StoreRef { def root: String }
  /** MinHash signature store ([[Dedup.writeSignatureStore]]) — id
    * tombstones. */
  final case class SignatureStore(root: String) extends StoreRef
  /** BM25 posting store ([[InvertedIndex.writePostingStore]]) — id
    * tombstones + negative stats sidecar row. */
  final case class PostingStore(root: String) extends StoreRef
  /** ColBERT token index ([[LateInteraction.writeTokenIndex]]) —
    * passage-id tombstones; purge preserves the `__pb` bucket dirs. */
  final case class TokenIndexStore(root: String) extends StoreRef
  /** Flat PQ code store ([[Similarity.writePqIndex]]) — vector-id
    * tombstones (erased ids come from `vecIds`, not the doc slice). */
  final case class PqStore(root: String) extends StoreRef
  /** IVF-PQ index ([[Similarity.writeIvfPqIndex]]) — vector-id
    * tombstones; purge preserves the `list_id` dirs. */
  final case class IvfPqStore(root: String) extends StoreRef
  /** Bigram LM count store ([[LanguageModel.writeLmStore]]) —
    * negated count delta. */
  final case class LmStore(root: String) extends StoreRef
  /** Lang-id trigram store ([[LanguageModel.writeLangIdStore]]) —
    * negated (lang, tri) delta; `langCol` is the label column the
    * erased slice carries. */
  final case class LangIdStore(root: String, langCol: String) extends StoreRef
  /** Boilerplate line-df store ([[Boilerplate.writeLineDfStore]]) —
    * negated (domain, line-hash) delta. */
  final case class LineDfStore(root: String, domainCol: String) extends StoreRef
  /** DSIR target store ([[DataSelection.writeDsirTargetStore]]) —
    * negated bucket delta; `buckets` must match the store's. */
  final case class DsirTargetStore(root: String, buckets: Int) extends StoreRef
  /** Quality-classifier count store ([[QualityClassifier
    * .writeQualityStore]]) — negated (label, bucket) delta. */
  final case class QualityStore(root: String, labelCol: String,
      buckets: Int) extends StoreRef
  /** Banded Hamming-sketch store ([[Dedup.writeHammingStore]] — the
    * image/SimHash dedup history) — MEDIA-id tombstones; erased ids
    * come from `vecIds` like the vector stores (media ids are not
    * document ids). */
  final case class HammingStore(root: String) extends StoreRef
  /** Curation disposition ledger ([[CurationPipeline.Stores.ledger]])
    * — doc-id tombstones: the audit trail records per-doc facts, so a
    * takedown must forget it like any other store. */
  final case class LedgerStore(root: String) extends StoreRef
  /** Curation kept corpus ([[CurationPipeline.Stores.kept]]) — doc-id
    * tombstones. The PRIMARY copy: every derived index can be clean
    * and the corpus still serves the document if this store is not in
    * the registry; [[CurationPipeline.packedShards]] exports through
    * the masked read. */
  final case class KeptStore(root: String) extends StoreRef
  /** Hashed-feature retrieval store ([[FeatureHashing
    * .writeHashedStore]]) — doc-id tombstones. */
  final case class HashedTfStore(root: String) extends StoreRef

  /** Fan the erased slice across every registered store. `docs`
    * carries `idCol`, `textCol` and whatever label/domain columns the
    * registered refs name; `vecIds` carries the erased VECTOR ids
    * (with column `vecIdCol`) for the vector stores — required iff a
    * [[PqStore]]/[[IvfPqStore]] is registered. `batchId` is the
    * erasure's batch id in EVERY store (roots are distinct, so one id
    * is unambiguous — and ties the fan-out together for audit).
    * Deletes run CONCURRENTLY ([[ParallelJobs]], r18) and every task
    * settles even after the first failure — so a failure (or crash)
    * mid-fan leaves an arbitrary SUBSET committed, not a prefix.
    * Re-running the same batchId fails fast on each already-committed
    * store (its replay guard); recovery is: drop the refs whose replay
    * guards fail fast from the registry and re-run the same batchId. */
  def forget(docs: DataFrame, idCol: String, textCol: String,
      stores: Seq[StoreRef], batchId: Long,
      vecIds: Option[(DataFrame, String)] = None): Unit = Checkpoints.scoped {
    require(stores.nonEmpty, "empty store registry")
    require(stores.map(_.root).distinct.size == stores.size,
      "duplicate store roots in the registry — one ref per store")
    val needsVecs = stores.exists {
      case _: PqStore | _: IvfPqStore | _: HammingStore => true
      case _ => false }
    require(!needsVecs || vecIds.isDefined,
      "a PqStore/IvfPqStore/HammingStore is registered but vecIds was " +
        "not supplied")
    // one pin: every store's delta derives from the same erased rows
    val pinned = Checkpoints.pin(docs)
    val pinnedVecs = vecIds.map { case (vf, vc) =>
      (vf.select(col(vc)).transform(Checkpoints.pin), vc) }
    // independent stores (distinct roots, one tombstone append each) —
    // run the fan-out CONCURRENTLY (guide §2.6: the next store's jobs
    // back-fill the previous one's straggler tail; r18 — the composed
    // takedown was paying 14 sequential job tails)
    ParallelJobs.run(stores.map(ref => () => (ref: @unchecked) match {
      case SignatureStore(r) =>
        Dedup.deleteFromSignatureStore(pinned.select(col(idCol)),
          idCol, r, batchId)
      case PostingStore(r) =>
        InvertedIndex.deleteFromPostingStore(pinned, idCol, textCol,
          r, batchId)
      case TokenIndexStore(r) =>
        LateInteraction.deleteFromTokenIndex(pinned.select(col(idCol)),
          idCol, r, batchId)
      case PqStore(r) =>
        val (vf, vc) = pinnedVecs.get
        Similarity.deleteFromPqIndex(vf, vc, r, batchId)
      case IvfPqStore(r) =>
        val (vf, vc) = pinnedVecs.get
        Similarity.deleteFromIvfPqIndex(vf, vc, r, batchId)
      case LmStore(r) =>
        LanguageModel.deleteFromLmStore(pinned, idCol, textCol, r, batchId)
      case LangIdStore(r, langCol) =>
        LanguageModel.deleteFromLangIdStore(pinned, langCol, textCol,
          r, batchId)
      case LineDfStore(r, domainCol) =>
        Boilerplate.deleteFromLineDfStore(pinned, idCol, domainCol,
          textCol, r, batchId)
      case DsirTargetStore(r, b) =>
        DataSelection.deleteFromDsirTargetStore(pinned, idCol, textCol,
          b, r, batchId)
      case QualityStore(r, labelCol, b) =>
        QualityClassifier.deleteFromQualityStore(pinned, labelCol,
          textCol, b, r, batchId)
      case HammingStore(r) =>
        val (vf, vc) = pinnedVecs.get
        Dedup.deleteFromHammingStore(vf, vc, r, batchId)
      case LedgerStore(r) =>
        CurationPipeline.deleteFromLedger(pinned.select(col(idCol)),
          idCol, r, batchId)
      case KeptStore(r) =>
        CurationPipeline.deleteFromKept(pinned.select(col(idCol)),
          idCol, r, batchId)
      case HashedTfStore(r) =>
        FeatureHashing.deleteFromHashedStore(pinned.select(col(idCol)),
          idCol, r, batchId)
    }))
  }

  /** Physically drop the forgotten rows in every registered store —
    * each store's own purge/compact (tombstone anti-join for row
    * stores, non-negative count fold for aggregate stores), layout
    * preserved (`__pb` buckets, `list_id` dirs). `idCol`/`vecIdCol`
    * name the row stores' id columns (as written). Store-independent
    * and idempotent per store, so a maintenance window can run them
    * in any order or re-run after a crash. Returns (ref, replaced
    * batch-dir count) per store — 0 where there was nothing to drop. */
  def purgeEverywhere(spark: SparkSession, stores: Seq[StoreRef],
      idCol: String, newBatchId: Long,
      vecIdCol: String = "vec_id"): Seq[(StoreRef, Int)] =
    // store-independent and idempotent per store (scaladoc above) —
    // the maintenance window overlaps them (guide §2.6, r18)
    ParallelJobs.map(stores.map(ref => () => {
      val n = (ref: @unchecked) match {
        case SignatureStore(r) =>
          Dedup.purgeSignatureStore(spark, r, idCol, newBatchId)
        case PostingStore(r) =>
          InvertedIndex.purgeTombstones(spark, r, idCol, newBatchId)
        case TokenIndexStore(r) =>
          LateInteraction.purgeTokenIndex(spark, r, idCol, newBatchId)
        case PqStore(r) =>
          Similarity.purgePqIndex(spark, r, vecIdCol, newBatchId)
        case IvfPqStore(r) =>
          Similarity.purgeIvfPqIndex(spark, r, vecIdCol, newBatchId)
        case LmStore(r) =>
          LanguageModel.compactLmStore(spark, r, newBatchId)
        case LangIdStore(r, _) =>
          LanguageModel.compactLangIdStore(spark, r, newBatchId)
        case LineDfStore(r, domainCol) =>
          Boilerplate.compactLineDfStore(spark, r, domainCol, newBatchId)
        case DsirTargetStore(r, _) =>
          DataSelection.compactDsirStore(spark, r, newBatchId)
        case QualityStore(r, _, _) =>
          QualityClassifier.compactQualityStore(spark, r, newBatchId)
        case HammingStore(r) =>
          Dedup.purgeHammingStore(spark, r, vecIdCol, newBatchId)
        case LedgerStore(r) =>
          CurationPipeline.purgeLedger(spark, r, idCol, newBatchId)
        case KeptStore(r) =>
          CurationPipeline.purgeKept(spark, r, idCol, newBatchId)
        case HashedTfStore(r) =>
          FeatureHashing.purgeHashedStore(spark, r, idCol, newBatchId)
      }
      (ref, n)
    }))
}
