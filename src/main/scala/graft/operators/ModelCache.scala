package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-epoch cache for SERVED MODEL FRAMES — the re-aggregated
  * count stores a streamed pipeline consults every micro-batch (the
  * quality classifier's (label, bucket) counts, the LM's bigram
  * counts, the boilerplate detector's above-threshold line sets).
  * Those stores are PRE-TRAINED relative to the stream: epochs read
  * them, they change only on an explicit append/erasure/compaction —
  * yet the uncached serve re-runs a store-sized scan + re-aggregate
  * per epoch, a constant that dominates short micro-batches.
  *
  * An entry is keyed by (store root, serve descriptor) and guarded by
  * the store's committed-batch FINGERPRINT — the `batch=` dir names
  * plus their modification times, so an append, a purge, a compaction,
  * or even a delete-and-recreate at the same path invalidates it
  * (mtime moves). On a hit the pinned frame ([[Checkpoints.keep]] —
  * the blocks are the data, no store re-scan, no lineage back to the
  * deleted-able dirs) serves directly; on a miss the stale pin is
  * released, `compute` runs once, and the fresh frame pins.
  *
  * Lifecycle: entries are the one kind of pin no scope owns
  * ([[Checkpoints]]). An instance is scoped to its pipeline run (the
  * [[CurationPipeline.sink]] wiring creates one per stream) —
  * [[releaseAll]] when the run ends; entries hold executor-memory
  * blocks until then. Model frames are model-sized (counts, not
  * corpus), so the working set is a few small frames per store.
  * Thread-safe; concurrent epochs of one stream serialize on the
  * instance.
  */
final class ModelCache {

  private final case class Entry(fingerprint: Set[(String, Long, Long, Long, Long)],
      frames: Seq[DataFrame]) {
    def frame: DataFrame = frames.head
  }
  private val entries =
    scala.collection.mutable.HashMap.empty[(String, String), Entry]

  /** The store's committed-batch identity: dir names + mtimes (the
    * [[BatchStore]] commit rename stamps the mtime) PLUS each batch
    * dir's content summary — file count, total length, max file
    * mtime. The dir mtime alone is not enough everywhere: object
    * stores (S3A) report synthetic mtimes for directory entries, and
    * coarse-granularity filesystems can land a delete-and-recreate of
    * the same batch id within one mtime tick — the file-level summary
    * catches both (a recreated batch has different file lengths/
    * mtimes/counts unless it is byte- and timestamp-identical, in
    * which case serving the cached frame is correct anyway).
    * Tombstone batches ride the same guard — a masked serve cached
    * here must invalidate on a new tombstone, and
    * `.tombstones/batch=` dirs are listed by the recursive walk. */
  private def fingerprint(spark: SparkSession,
      root: String): Set[(String, Long, Long, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // plain listStatus walk, NOT fs.listFiles(dir, recursive): the
    // located-status iterator computes per-file block locations, which
    // on the checksummed local filesystem costs ~ms per entry — a
    // 50-batch bucketed store turned every cache HIT into seconds
    def contentSummary(dir: org.apache.hadoop.fs.Path): (Long, Long, Long) = {
      var n = 0L; var bytes = 0L; var maxM = 0L
      def walk(d: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(d).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else {
            n += 1; bytes += st.getLen
            if (st.getModificationTime > maxM) maxM = st.getModificationTime
          }
        }
      walk(dir)
      (n, bytes, maxM)
    }
    def batchDirs(
        dir: org.apache.hadoop.fs.Path): Seq[(String, Long, Long, Long, Long)] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("batch=")) {
          val (files, bytes, maxM) = contentSummary(st.getPath)
          Seq((s"${dir.getName}/$n", st.getModificationTime, files, bytes,
            maxM))
        } else Seq.empty
      }
    (batchDirs(p) ++
      batchDirs(new org.apache.hadoop.fs.Path(root, ".tombstones"))).toSet
  }

  /** Serve the model for (`root`, `kind`): the cached pinned frame
    * when the store's committed batches are unchanged since it was
    * computed, else release the stale pin, run `compute`, pin and
    * remember its result. `kind` distinguishes serves with different
    * parameters over one store (e.g. two minDf thresholds) — bake
    * every value the computation closes over into it. */
  def cached(spark: SparkSession, root: String, kind: String)(
      compute: => DataFrame): DataFrame =
    cachedDerived(spark, root, kind)(compute)(_ => Seq.empty)._1

  /** [[cached]] for a base model frame PLUS frames DERIVED from it
    * (the classifier's class totals, the LM's context totals / vocab
    * size): all pinned under ONE entry guarded by ONE fingerprint
    * taken at ONE instant. Caching base and derived under separate
    * keys is incoherent — a store change (append/erasure/compaction)
    * landing between the base fetch and the derived fetch within one
    * epoch would compute the derived frames from the STALE base but
    * record them under the NEW fingerprint, and they would then serve
    * as cache hits forever, pairing fresh counts with stale
    * denominators. Here `derive` always sees the entry's own pinned
    * base, so base and derived can never mix store versions. */
  def cachedDerived(spark: SparkSession, root: String, kind: String)(
      compute: => DataFrame)(
      derive: DataFrame => Seq[DataFrame]): (DataFrame, Seq[DataFrame]) =
    synchronized {
      val key = (root, kind)
      val fp = fingerprint(spark, root)
      entries.get(key) match {
        case Some(e) if e.fingerprint == fp => (e.frames.head, e.frames.tail)
        case stale =>
          stale.foreach(e => e.frames.foreach(Checkpoints.releasePinned))
          val base = Checkpoints.keep(compute)
          val derived = derive(base).map(Checkpoints.keep)
          entries.update(key, Entry(fp, base +: derived))
          (base, derived)
      }
    }

  /** Release every cached pin and forget the entries — call when the
    * pipeline run ends (the pinned blocks are executor memory). */
  def releaseAll(): Unit = synchronized {
    entries.values.foreach(e => e.frames.foreach(Checkpoints.releasePinned))
    entries.clear()
  }

  /** Entry count (test observability). */
  private[graft] def size: Int = synchronized(entries.size)
}
