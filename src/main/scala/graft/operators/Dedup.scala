package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextFunctions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (content-hash groupBy), MinHash+LSH banding, SimHash, and
  * n-gram Jaccard verification.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-shuffle on a 16-byte digest — the
  *    canonical first stage; it feeds survivors to the near-dup pass.
  *  - MinHash+LSH is the linear-time near-dup path: signatures are
  *    map-side; candidates come from a shuffle on (band, bandKey)
  *    buckets — never an all-pairs product. Pair verification touches
  *    only bucket-colliding pairs.
  *  - SimHash gives a single 64-bit sketch per doc; duplicate clusters
  *    are an exact groupBy on the sketch, and near-miss scans use
  *    `bit_count(a ^ b)` (built-in, codegen'd) within buckets.
  *  - All-pairs Jaccard exists only as a bucketed verifier
  *    ([[ngramJaccardPairs]] takes bucket columns for exactly that
  *    reason — an unbucketed call at scale is a design error).
  */
object Dedup {

  /** Exact dedup by content hash: survivors keep the minimum id.
    * Returns (contentHash, docId, keeperId, groupSize).
    *
    * One pass: group stats come from window aggregates over
    * `partitionBy(content_hash)` — a single scan + single shuffle of
    * (id, 16-byte digest) rows. The groupBy-then-rejoin alternative
    * hashes the corpus twice (both join inputs re-derive from the
    * scan) and shuffles twice. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val byHash = Window.partitionBy(col("content_hash"))
    df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .select(col("content_hash"), col(idCol),
        min(col(idCol)).over(byHash).as("keeper_id"),
        count(lit(1)).over(byHash).as("group_size"))
  }

  /** Substring-level dedup: per-document duplicated-SPAN statistics at
    * word-`gramN` granularity — the third dedup granularity after
    * document-exact ([[exactGroups]]) and document-near
    * ([[minhashLshPairs]]). A gram (n-token window) is *duplicated*
    * when the same token sequence appears in MORE THAN ONE document;
    * every position whose gram is duplicated covers its n tokens, and
    * overlapping covered windows merge into spans. Returns one row per
    * input document:
    * `(id, n_tokens, n_dup_grams, covered_tokens, dup_fraction)` —
    * `covered_tokens` is the length of the union of duplicated
    * windows, `dup_fraction = covered_tokens / n_tokens`. Docs shorter
    * than `gramN` tokens report zero dup stats (they have no grams).
    *
    * Grams are compared by the 32-bit rolling hash of
    * [[TextFunctions.gramHashes]] (same fold the MinHash shingles
    * use); collisions at 2^-32 per distinct-gram pair conflate
    * unrelated grams — immaterial at these densities, and the oracle
    * mirrors the same hash. Within-document repetition alone does NOT
    * mark a gram duplicated (self-repetition is a fluency signal, not
    * contamination); it does count once per occurrence in
    * `n_dup_grams` when the gram also appears elsewhere.
    *
    * Scale (100 TB): three linear shuffles and no pair product —
    * (1) posexplode to (id, pos, gramHash): corpus-linear, map-side;
    * (2) the duplicated-gram set: groupBy gramHash with a distinct-id
    *     count, partial-aggregated map-side, emitting only hashes seen
    *     in >1 doc (a tiny fraction of the gram universe);
    * (3) positions ⋈ duplicated-hashes on gramHash (both sides
    *     hash-partitioned by the join key), then one shuffle by id for
    *     the running-max interval merge. This is the suffix-array-free
    *     formulation of exact-substring dedup: a duplicated span of
    *     length L ≥ gramN is exactly a run of duplicated grams, so
    *     span recall is complete above the gram size. */
  def substringDupSpans(df: DataFrame, idCol: String, textCol: String,
      gramN: Int): DataFrame = {
    require(gramN >= 1, s"gramN must be >= 1, got $gramN")
    val base = df.select(col(idCol),
      gramHashes(tokens(col(textCol)), gramN).as("gh_arr"))
    // The gram frame feeds BOTH the duplicated-gram aggregate and the
    // position join; it is re-derived on each side — two corpus
    // tokenize+explode passes, zero staging I/O (the right call while
    // scans are cheap relative to pinning the (id, pos, gh) frame,
    // which is ~3× the text bytes).
    val grams = base.select(col(idCol),
      posexplode(col("gh_arr")).as(Seq("pos", "gh")))
    val dupGrams = grams.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("gh"))
    val dupPos = grams.join(dupGrams, "gh")
    // Interval merge per doc: sorted by pos, a window's fresh
    // contribution is its end minus the running max end of everything
    // before it (clamped at the window's own start — disjoint
    // predecessors contribute nothing to the overlap).
    val before = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val endCol = col("pos") + lit(gramN - 1)
    val perDoc = dupPos
      .withColumn("prev_end", max(endCol).over(before))
      .withColumn("contrib",
        greatest(lit(0),
          endCol - greatest(coalesce(col("prev_end"), lit(-1)), col("pos") - 1)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(col("contrib")).cast("long").as("covered_tokens"))
    df.select(col(idCol), tokenCount(col(textCol)).as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("n_tokens"))
          .otherwise(lit(0.0)).as("dup_fraction"))
  }

  /** Universal-hash permutation family over a 32-bit base hash:
    * `h_j(x) = (a_j * h32(x) + b_j) mod P32` with P32 prime > 2^32.
    * Products stay < 2^63 (no overflow in either engine); multipliers
    * derive deterministically from j so the DuckDB oracle reproduces
    * them. 32-bit base space is right for single-node corpora; at
    * 100 TB swap in a 64-bit base with 128-bit mulmod (the permutation
    * structure is unchanged). */
  val MinhashPrime: Long = 4294967311L // smallest prime > 2^32
  /** Multiplier bounded < 2^31 so a_j * h32 < 2^63 (overflow-safe). */
  def minhashPermA(j: Int): Long = (1103515245L * (j + 1) + 12345L) % 2147483647L
  def minhashPermB(j: Int): Long = (1140671485L * (j + 1) + 720524513L) % MinhashPrime

  /** Hashed shingles + signature in one corpus pass:
    * (id, hs, mh0..mh{k-1}) where `hs` is the distinct 32-bit shingle
    * hash set. The md5 base hash runs ONCE per TOKEN
    * ([[TextFunctions.hashedShingles]] combines token hashes into gram
    * hashes arithmetically — shingle strings never exist at all); the
    * k permutations are cheap arithmetic over that array — hashing per
    * (seed × shingle) would multiply the md5 cost by k. Banding and
    * Jaccard verification both operate on the hash set (collision odds
    * 2^-32 per distinct-shingle pair — immaterial, and the oracle
    * mirrors the same hashing). */
  private[operators] def withShingleSignatures(df: DataFrame, idCol: String,
      textCol: String, k: Int, shingleN: Int,
      carry: Seq[String] = Nil): DataFrame = {
    // The pin below is a MATERIALIZATION BARRIER, not just a reuse
    // cache: without it, CollapseProject inlines the shingle+hash
    // arrays into every one of the k minhash projections and the
    // corpus is re-tokenized and re-hashed k times per row (measured
    // 10×+ slowdown).
    // NOTE r19: deliberately NOT Parallelism.spread here — this seam
    // signs the RECOMPUTE-path history (q128/q131), whose shuffle
    // budget is pinned at "history never shuffles" (MetricsSpec); the
    // store writers and the delta-side serves spread at their own
    // entry points instead.
    val withBase = Checkpoints.pin(
      df.select(col(idCol) +: carry.map(col) :+
        hashedShingles(tokens(col(textCol)), shingleN).as("hs"): _*))
    withBase.select(
      (col(idCol) +: carry.map(col)) ++ (col("hs") +:
        (0 until k).map(j =>
          array_min(transform(col("hs"),
            h => (lit(minhashPermA(j)) * h + minhashPermB(j)) % MinhashPrime))
            .as(s"mh$j"))): _*)
      .filter(col("mh0").isNotNull)
  }

  /** LSH candidate pairs: `bands` bands of `rowsPerBand` consecutive
    * minhashes; docs colliding on any full band become a candidate
    * pair, then pairs are verified with exact shingle Jaccard >=
    * `threshold`. Returns (idA, idB, jaccard), idA < idB. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int, bands: Int, threshold: Double): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    // The shingle+hash base frame inside withShingleSignatures is the
    // single materialization; signatures re-derive from it with cheap
    // arithmetic on each of the four references below (both self-join
    // sides, both verification sides). A second persist here would pin
    // the dominant payload (the shingle arrays) twice.
    val sigs = withShingleSignatures(df, idCol, textCol, k, shingleN)
    val candidates = bandCandidates(sigs, idCol, k, bands)
    verifyJaccard(candidates, sigs.select(col(idCol), col("hs").as("sh")), idCol, threshold)
  }

  /** LSH band-collision candidates over a [[withShingleSignatures]]
    * frame: band key = the band's minhashes joined; explode to
    * (band, key); pairs sharing any band's key, `id_a < id_b`,
    * deduped across bands. */
  private def bandCandidates(sigs: DataFrame, idCol: String,
      k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val bandKeys = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*).as("key"))
    }: _*)
    val exploded = sigs.select(col(idCol), explode(bandKeys).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** DIRECTIONAL containment over the LSH candidates: for each
    * colliding pair, `containment_a` = |A∩B|/|A| (the share of A's
    * distinct shingles that also appear in B — how much of A is
    * quoted/templated inside B) and symmetrically `containment_b`;
    * pairs kept when EITHER direction reaches `threshold`. Jaccard
    * ([[minhashLshPairs]]) misses exactly these: a 50-shingle quote
    * inside a 5000-shingle page has Jaccard ≈ 0.01 but
    * containment_a ≈ 1 — the quote-expansion / template-instance
    * relation a training-data dedup wants to see even when the docs
    * are not near-identical overall.
    *
    * Honest recall bound, stated up front: candidates come from the
    * SYMMETRIC MinHash bands, whose collision probability tracks
    * Jaccard, not containment — a pair with high containment but
    * Jaccard far below the band operating point may never collide.
    * (A containment-tuned candidate scheme hashes only the smaller
    * side's shingles; the span-coverage operator `substringDupSpans`
    * is this repo's complementary detector for that regime.) What
    * the operator guarantees: every pair the Jaccard chain surfaces
    * is ALSO scored directionally, so asymmetric relations among
    * band-colliding docs are never silently collapsed into one
    * Jaccard number.
    *
    * Scale shape = [[minhashLshPairs]] exactly (same single
    * materialization, same band shuffles, same candidate-sized
    * verify joins); only the verification arithmetic differs.
    * Returns `(id_a, id_b, containment_a, containment_b)`. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int, bands: Int, threshold: Double): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    require(threshold > 0 && threshold <= 1,
      s"need 0 < threshold <= 1, got $threshold")
    val sigs = withShingleSignatures(df, idCol, textCol, k, shingleN)
    val candidates = bandCandidates(sigs, idCol, k, bands)
    val sa = sigs.select(col(idCol).as("id_a"), col("hs").as("sh_a"))
    val sb = sigs.select(col(idCol).as("id_b"), col("hs").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("containment_a", inter.cast("double") / size(col("sh_a")))
      .withColumn("containment_b", inter.cast("double") / size(col("sh_b")))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        col("containment_a"), col("containment_b"))
  }

  /** The persisted-store row shape for incremental dedup: one row per
    * document with EVERYTHING the daily verdict needs —
    * `(id, chash, hs, mh0..mh{k-1})` — so a batch run never touches
    * the history's text again. `chash` is the exact-dup md5 digest
    * (present for every doc, including ones too short to shingle);
    * `hs`/`mh*` are the near-dup shingle set and MinHash signature
    * (mh columns null for sub-`shingleN`-token docs, which cannot
    * near-dup). The hs/mh computation reads the shingle array k+1
    * times, so the frame is built behind the same materialization
    * barrier as [[withShingleSignatures]]. */
  def dedupSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int): DataFrame = {
    val base = Checkpoints.pin(
      df.select(col(idCol), md5(col(textCol)).as("chash"),
        hashedShingles(tokens(col(textCol)), shingleN).as("hs")))
    base.select(col(idCol) +: col("chash") +: col("hs") +:
      (0 until k).map(j =>
        array_min(transform(col("hs"),
          h => (lit(minhashPermA(j)) * h + minhashPermB(j)) % MinhashPrime))
          .as(s"mh$j")): _*)
  }

  /** [[dedupSignatures]] over a frame that ALREADY carries the content
    * digest (`chashCol` — MUST equal `md5(textCol)`; the curation DAG's
    * pinned slice computes it once at epoch start): same output shape
    * and values, one md5-per-doc pass saved; the returned frame reaches
    * its materialization barrier ([[Checkpoints]]). The r18 sign-once hook: a near-
    * mode epoch derives BOTH its dedup verdicts and its signature-store
    * append from this one frame instead of shingling + hashing the
    * slice twice ([[incrementalDedupFromStoreAtSigned]] /
    * [[writeSignatureStoreBandedSigned]]). */
  def dedupSignaturesFromHashed(hashed: DataFrame, idCol: String,
      chashCol: String, textCol: String, k: Int, shingleN: Int): DataFrame = {
    val base = Checkpoints.pin(
      hashed.select(col(idCol), col(chashCol).as("chash"),
        hashedShingles(tokens(col(textCol)), shingleN).as("hs")))
    base.select(col(idCol) +: col("chash") +: col("hs") +:
      (0 until k).map(j =>
        array_min(transform(col("hs"),
          h => (lit(minhashPermA(j)) * h + minhashPermB(j)) % MinhashPrime))
          .as(s"mh$j")): _*)
  }

  /** Append one batch's [[dedupSignatures]] to the signature store at
    * `root` — the persistence that deletes incremental dedup's last
    * history-sized cost (re-tokenizing and re-hashing the entire
    * history every day; see [[incrementalDedupFromStore]]). Layout is
    * append-only partition dirs (`root/batch=<id>`), so a daily append
    * writes ONLY the delta's signatures and readers scan the union —
    * history bytes are written once, ever. The batch is staged under a
    * dot-dir (ignored by readers) and renamed in atomically, so a
    * reader never sees a half-written batch and a crashed write leaves
    * only invisible garbage; a retry of a committed batch fails fast
    * on the existing dir instead of duplicating signatures. The
    * signing barrier is pinned in a scope and released on return. */
  def writeSignatureStore(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int, root: String, batchId: Long): Unit = {
    // drop any STALE sidecar for this id BEFORE the batch commits
    // (re-append of a compacted-away id after a crashed
    // refresh/sweep): the commit→fresh-sidecar window must leave a
    // sidecar-LESS batch (always scanned, sound), never one pruned
    // against another batch's sketch (a possible missed duplicate)
    val sidecar = BatchBlooms.path(root, batchId)
    val sfs = sidecar.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    if (sfs.exists(sidecar)) sfs.delete(sidecar, false)
    Checkpoints.scoped(BatchStore.append(
      // adaptive parallelism floor (guide §2.5, r19): the batch's
      // shingle+MinHash signing inherits the scan's task count — one
      // task on single-row-group inputs; no-op on parallel inputs
      dedupSignatures(Parallelism.spread(df, idCol), idCol, textCol, k,
        shingleN),
      root, batchId))
    // sidecar AFTER the batch commit: a crash in between leaves a
    // committed batch that is simply always scanned (sound); the
    // sketches themselves cost two delta-sized aggregations
    writeBatchBloom(df.sparkSession, root, batchId)
  }

  /** [[writeSignatureStore]] for a store whose near-dup serves are
    * Bloom-pruned too: pins the band scheme (`_bands` write-once
    * meta — the [[BatchStore.ensureIntMeta]] discipline; band keys
    * are a function of `bands`, so a sidecar built at one banding is
    * meaningless at another) and writes band-key sketches beside the
    * digest sketches. Serves requesting a DIFFERENT banding fall back
    * to the flat near-scan (sound), so the pin constrains pruning,
    * never correctness. */
  /** Pin the store's band scheme (`_bands` write-once meta) unless it
    * is a pre-sidecar LEGACY store (batches, no pin) — shared by the
    * text-fed and pre-signed banded writers; the protocol is
    * correctness-bearing, so it lives in exactly one place. A legacy
    * store keeps accepting appends — it just never gets band sidecars,
    * so near serves scan flat (sound); pinning mid-history would stamp
    * a banding the older sidecars never saw. */
  private def ensureBandsPin(spark: org.apache.spark.sql.SparkSession,
      root: String, k: Int, bands: Int): Unit = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val legacy =
      BatchStore.readIntMetaOpt(spark, root, "_bands", "bands").isEmpty && {
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        fs.exists(p) && fs.listStatus(p).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("batch="))
      }
    if (!legacy)
      BatchStore.ensureIntMeta(spark, root, "_bands", "bands", bands)
  }

  def writeSignatureStoreBanded(df: DataFrame, idCol: String,
      textCol: String, k: Int, shingleN: Int, bands: Int, root: String,
      batchId: Long): Unit = {
    ensureBandsPin(df.sparkSession, root, k, bands)
    writeSignatureStore(df, idCol, textCol, k, shingleN, root, batchId)
  }

  /** [[writeSignatureStoreBanded]] fed an ALREADY-SIGNED frame (a
    * [[dedupSignatures]]/[[dedupSignaturesFromHashed]] result, caller-
    * pinned — e.g. the verdict pass's frame filtered to the epoch's
    * kept ids): byte-identical store rows, zero re-tokenizing or
    * re-hashing. Same meta pin, stale-sidecar pre-delete, commit and
    * sidecar protocol as the text-fed path. */
  def writeSignatureStoreBandedSigned(signed: DataFrame, idCol: String,
      k: Int, bands: Int, root: String, batchId: Long): Unit = {
    (Seq(idCol, "chash", "hs") ++ (0 until k).map(j => s"mh$j")).foreach(c =>
      require(signed.columns.contains(c),
        s"signed frame is missing column $c — not a dedupSignatures(k=$k) frame"))
    val spark = signed.sparkSession
    ensureBandsPin(spark, root, k, bands)
    val sidecar = BatchBlooms.path(root, batchId)
    val sfs = sidecar.getFileSystem(spark.sessionState.newHadoopConf())
    if (sfs.exists(sidecar)) sfs.delete(sidecar, false)
    BatchStore.append(
      signed.select(col(idCol) +: col("chash") +: col("hs") +:
        (0 until k).map(j => col(s"mh$j")): _*),
      root, batchId)
    writeBatchBloom(spark, root, batchId)
  }

  /** Read the whole signature store (all committed batches). The
    * `batch` partition column rides along for auditing; the dedup
    * core ignores it. */
  def readSignatureStore(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame =
    spark.read.parquet(root)

  /** [[readSignatureStore]] with the store's tombstones applied — the
    * erasure-aware read ([[deleteFromSignatureStore]]). */
  def readSignatureStore(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String): DataFrame =
    Tombstones.apply(spark, root, spark.read.parquet(root), idCol)

  /** DELETE documents' signatures from the store — the [[Tombstones]]
    * discipline on the dedup side: an erased document's content
    * digest and MinHash sketch are derived from its text and must go
    * with it. Semantics follow: content identical or near-identical
    * to an ERASED document is ADMITTED again by
    * [[incrementalDedupFromStore]] (fed the erasure-aware read) — the
    * store no longer remembers the erased content to suppress
    * against, which is exactly what erasure means. */
  def deleteFromSignatureStore(ids: DataFrame, idCol: String,
      root: String, batchId: Long): Unit =
    Tombstones.append(ids, idCol, root, batchId)

  /** Physically drop tombstoned signatures and retire the applied
    * tombstones ([[Tombstones.purge]]). Rows are otherwise preserved
    * VERBATIM — byte-identical duplicate rows from a healed re-append
    * survive a purge (readers are duplicate-tolerant by the
    * countDistinct discipline); [[compactSignatureStore]] remains the
    * op that folds them. */
  def purgeSignatureStore(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, newBatchId: Long): Int = {
    val n = Tombstones.purge(spark, root, idCol, newBatchId)
    // purge compacts every batch into one: the replaced batches'
    // sidecars dangle and the merged batch has none — sweep + rebuild
    // so the store converges back to pruned serves instead of
    // silently scanning flat forever
    refreshSignatureBlooms(spark, root)
    n
  }

  // ------------- per-batch Bloom sidecars: history-flat store serves

  // Sidecar protocol, fpp sizing rationale and probe-job shape live in
  // [[BatchBlooms]] (shared with the Hamming sketch store).
  private[graft] val MinBatchesForBloomPrune: Int =
    BatchBlooms.MinBatchesForPrune

  /** Band-key probe strings over a signatures frame: `"<band>:<key>"`
    * — the band index baked into the string so ONE Bloom covers every
    * band's keys. Key text matches the candidate join's
    * `concat_ws("_", mh…)` exactly; only rows that can near-dup
    * (non-null signature) contribute. */
  private[graft] def bandKeyStrings(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val arr = array((0 until bands).map { b =>
      concat_ws(":", lit(b),
        concat_ws("_", (0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}")): _*))
    }: _*)
    sigs.filter(col("mh0").isNotNull).select(explode(arr).as("bkey"))
  }

  /** Write the Bloom sidecar for a COMMITTED signature batch: a
    * content-digest Bloom always, plus a band-key Bloom when the
    * store is band-pinned (`_bands` meta — [[writeSignatureStoreBanded]]).
    * Read back from the committed dir so the sketch reflects exactly
    * what readers will scan; staged dot-file + rename. The sidecar is
    * an OPTIMIZATION commit, not a correctness one: a batch without
    * one (pre-sidecar legacy, crash between batch commit and sidecar
    * rename, an unknown format version) is always scanned by the
    * pruned serves, and erasure/purge leave a stale-superset sketch —
    * extra scans, never missed duplicates. Cost: one count + one
    * Bloom aggregation per sketch over the DELTA (never history). */
  private def writeBatchBloom(spark: org.apache.spark.sql.SparkSession,
      root: String, batchId: Long): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(root, s"batch=$batchId")
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dirPath)) return
    val bandsOpt = BatchStore.readIntMetaOpt(spark, root, "_bands", "bands")
    val b = spark.read.parquet(dirPath.toString)
    val k = b.columns.count(_.matches("mh\\d+"))
    // sketch sizing from the committed footers (exact row count, zero
    // Spark jobs) — the per-append count() job was pure sizing input
    val n = BatchStore.committedRowCount(spark, root, batchId)
    // ONE tagged sketch covers both key families — one aggregation
    // job instead of one per family (the write-side constant that
    // showed up on every store-lifecycle gate)
    val dig = b.filter(col("chash").isNotNull)
      .select(concat(lit("d:"), col("chash")).as("k"))
    val band = bandsOpt.filter(bands => k > 0 && k % bands == 0).map { bands =>
      bandKeyStrings(b, k, bands).select(concat(lit("b:"), col("bkey")).as("k"))
    }
    val keys = band.foldLeft(dig)(_ unionAll _)
    val expected = n * (1L + band.map(_ => bandsOpt.get.toLong).getOrElse(0L))
    BatchBlooms.write(spark, root, batchId, keys, expected,
      Seq("d") ++ band.map(_ => "b"))
  }

  /** Re-derive missing sidecars and drop dangling ones — the
    * maintenance hook after [[compactSignatureStore]] (the merged
    * batch needs a fresh sketch, the replaced batches' sketches must
    * go) and the one-shot migration for a pre-sidecar store. Returns
    * the number of sidecars written. */
  def refreshSignatureBlooms(spark: org.apache.spark.sql.SparkSession,
      root: String): Int = {
    val missing = BatchBlooms.danglingSweep(spark, root)
    missing.foreach(id => writeBatchBloom(spark, root, id))
    missing.size
  }

  /** The store pruned to `ids` batches at the DIRECTORY level —
    * `batch` is a partition column, hit at its DISCOVERED type (small
    * ids infer int; a long literal would wrap the column in a cast
    * and forfeit the pruning). */
  private def readBatchesPruned(spark: org.apache.spark.sql.SparkSession,
      root: String, ids: Seq[Long]): DataFrame = {
    val st = spark.read.parquet(root)
    if (ids.isEmpty) st.filter(lit(false))
    else {
      val lits: Seq[Any] = st.schema("batch").dataType match {
        case org.apache.spark.sql.types.IntegerType => ids.map(_.toInt)
        case _ => ids
      }
      st.filter(col("batch").isin(lits: _*))
    }
  }

  /** The signature store's digest column (`chash`), Bloom-pruned to
    * the committed batches that might contain any of `digests` (one
    * string column; `beforeBatch` = the strictly-prior epoch cut).
    * THE streamed-curation dedup read: per-epoch store input scales
    * with the batches the slice can actually collide with, not with
    * corpus age. Falls back to the flat scan when the store is small
    * or sidecar-less — identical values either way (the sketch has no
    * false negatives). */
  def storeDigestsPruned(spark: org.apache.spark.sql.SparkSession,
      root: String, digests: DataFrame,
      beforeBatch: Option[Long] = None): DataFrame = {
    val raw = BatchBlooms.hits(spark, root,
        Seq("d" -> digests.toDF("chash")), beforeBatch) match {
      case Some(Seq(ids)) => readBatchesPruned(spark, root, ids)
      case _ => spark.read.parquet(root)
    }
    beforeBatch.map(b => raw.filter(col("batch") < b)).getOrElse(raw)
      .select(col("chash"))
  }

  /** Compact the signature store: merge every committed `batch=` dir
    * into ONE new batch and delete the originals — the maintenance a
    * daily append-only store needs (365 batch dirs/year each add a
    * file-listing + footer cost to every scan; small daily deltas
    * make small files). Commit protocol is [[writeSignatureStore]]'s
    * stage-and-rename; `newBatchId` must exceed every existing id so
    * a half-finished compaction is distinguishable from the batches
    * it replaces.
    *
    * Crash-safe WITHOUT reader coordination, by construction:
    *  - before the rename: staging is a dot-dir, readers see the old
    *    batches only;
    *  - after the rename, before/amid the deletes: readers see every
    *    history doc TWICE (old + compacted) — the verdict is
    *    invariant under duplicate store rows
    *    ([[incrementalDedupFromStore]] counts DISTINCT history ids;
    *    exact/candidate stages are already set-semantics), pinned in
    *    Round9TailSpec;
    *  - re-running a crashed compaction first heals duplicates via
    *    `dropDuplicates(idCol, "chash")` on the merged read.
    *
    * Conflicting content for one id FAILS the compaction: duplicate
    * rows are legal only when byte-identical (idempotent re-appends,
    * the crash window above). If a doc_id was ever re-appended with
    * DIFFERENT text, the store legitimately matches either content
    * hash pre-compaction, and an arbitrary-survivor merge would
    * silently change later verdicts — so the merge dedups on
    * `(id, chash)` and raises with sample offending ids when an id
    * still carries more than one distinct chash. The remedy is an
    * explicit upstream decision (delete the stale row, or re-key the
    * revision), not a silent coin flip here.
    *
    * SINGLE MAINTAINER assumed: exactly one compaction at a time, and
    * no [[writeSignatureStore]] append may commit a batch id ≥
    * `newBatchId` while this runs. Concurrent APPENDS with smaller
    * ids are tolerated-but-wasted (their dir is not in `batches`, so
    * it survives the deletes and its docs stay visible); an append
    * racing the id invariant is caught by a RE-LIST immediately
    * before the commit rename — the compaction then fails loudly with
    * its staging dir invisible to readers, instead of committing a
    * batch that is not the maximum id (which a LATER compaction could
    * mistake for history). The re-check narrows the race to the
    * list→rename syscall window; closing it entirely needs a store
    * lock, which a single-maintainer schedule makes unnecessary.
    * Returns the number of batch dirs replaced. */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, newBatchId: Long): Int =
    compactSignatureStore(spark, root, idCol, newBatchId, () => ())

  /** Test seam: `onBeforeCommit` runs after the merged batch is staged
    * and before the id-invariant re-list — the window a racing append
    * lands in (Round10Spec plants one there). */
  private[graft] def compactSignatureStore(
      spark: org.apache.spark.sql.SparkSession, root: String,
      idCol: String, newBatchId: Long, onBeforeCommit: () => Unit): Int = {
    // the shared [[BatchStore.compact]] skeleton (stage-and-rename,
    // id-invariant re-list); only the content-conflict semantics are
    // this store's own. Sidecars refresh AFTER the compaction: the
    // replaced batches' sketches are dropped and the merged batch gets
    // a fresh one — a crash in between leaves the merged batch
    // sidecar-less (always scanned, sound) until the next refresh.
    val replaced = BatchStore.compact(spark, root, newBatchId, merged => {
      val m = merged.dropDuplicates(idCol, "chash")
      val conflicts = m.groupBy(col(idCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        .orderBy(col(idCol)).limit(3).collect()
      require(conflicts.isEmpty,
        s"conflicting content in signature store: id(s) " +
          conflicts.map(_.get(0)).mkString(", ") +
          " carry more than one distinct chash — re-appends must be " +
          "byte-identical; delete the stale row or re-key the revision " +
          "before compacting")
      m
    }, onBeforeCommit)
    refreshSignatureBlooms(spark, root)
    replaced
  }

  /** Incremental (cross-corpus) dedup: flag each NEW-batch document
    * that duplicates the HISTORY — exact (content md5) or near
    * (banded MinHash collision, Jaccard-verified) — the refresh shape
    * every growing corpus runs daily: yesterday's 100 TB history vs
    * today's delta. Returns one row per batch document:
    * `(id, is_exact_dup, n_near_dups, best_jaccard)`.
    *
    * This entry point recomputes the history's signatures from text:
    * map-side, zero history shuffles, but it IS a history-sized
    * materialization per run — [[dedupSignatures]] stages the full
    * history's digest+shingle+signature frame (pinned to executor
    * storage), and at 100 TB that scan+hash is
    * the daily bill. The production path persists the signatures
    * ONCE and appends each day's delta: [[writeSignatureStore]] →
    * [[incrementalDedupFromStore]] → append the batch's own
    * signatures after verdicting — per-batch cost then scales with
    * the DELTA, not the history (pinned equivalent to this recompute
    * path in Round9OpsSpec). */
  def incrementalDedup(history: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, k: Int, shingleN: Int, bands: Int,
      threshold: Double): DataFrame =
    incrementalDedupFromStore(
      dedupSignatures(history, idCol, textCol, k, shingleN),
      batch, idCol, textCol, k, shingleN, bands, threshold)

  /** The incremental-dedup core over a PERSISTED history: `store` is a
    * [[dedupSignatures]] frame (typically
    * [[readSignatureStore]] — a parquet scan, which is its own
    * materialization barrier). The history's TEXT is never read and
    * its signatures are never recomputed; with the store on disk the
    * per-batch cost is one store scan + the batch's own signing.
    *
    * The asymmetry IS the design. A global re-dedup
    * ([[minhashLshPairs]] over history ∪ batch) re-pays the history's
    * self-join every day; here the history is NEVER SHUFFLED — every
    * join broadcasts a batch-derived side:
    *  - exact: store digests stream map-side against the broadcast
    *    batch digest set (one store-linear pass, no exchange);
    *  - candidates: store band keys (computed map-side from the
    *    stored signatures) stream against the broadcast batch band
    *    keys — history×history collisions are never formed, only
    *    history×batch;
    *  - verification: store shingle sets stream against the
    *    broadcast (candidate ids × batch shingle sets).
    * (The three passes share one scan stage each at cluster scale;
    * the batch side must fit a broadcast — the caller's contract for
    * a delta, ~per-executor memory / ~10 MB×shingles per 10k docs. A
    * delta too big to broadcast is not an increment; run the global
    * pass.)
    *
    * Same hash family end-to-end as [[minhashLshPairs]], so a DuckDB
    * oracle reproduces every collision and Jaccard value exactly. */
  def incrementalDedupFromStore(store: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int, shingleN: Int, bands: Int,
      threshold: Double): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    (Seq(idCol, "chash", "hs") ++ (0 until k).map(j => s"mh$j")).foreach(c =>
      require(store.columns.contains(c), s"store is missing column $c — not a dedupSignatures(k=$k) frame"))
    incrementalVerdicts(store, store, batch,
      // spread the DELTA before signing (guide §2.5, r19): the batch
      // arrives one-task off a single-row-group scan; its text is
      // delta-sized, so the exchange stays batch-proportional (the
      // history still never shuffles — MetricsSpec's q128 pin)
      withShingleSignatures(Parallelism.spread(batch, idCol), idCol,
        textCol, k, shingleN),
      idCol, textCol, k, bands, threshold)
  }

  /** [[incrementalDedupFromStore]] served from the store's ROOT with
    * the per-batch Bloom-sidecar pruning: the exact pass scans only
    * the batch dirs whose digest sketch might contain one of the
    * delta's digests, and the near pass only the dirs whose band-key
    * sketch might collide with the delta's bands (store written via
    * [[writeSignatureStoreBanded]]; a banding mismatch or missing
    * sidecars fall back to the flat scan — values identical either
    * way, the sketches have no false negatives). This deletes the
    * last history-proportional term in the daily-refresh serve: the
    * flat path's per-epoch store SCAN grew with corpus age even
    * though it never shuffled; here scanned input scales with the
    * batches the delta can actually collide with.
    *
    * `beforeBatch` is the streamed-epoch cut (verdicts read strictly
    * prior batches — the [[CurationPipeline]] crash-window
    * discipline); `masked = true` applies the store's tombstones
    * (the erasure-aware read, [[deleteFromSignatureStore]]). */
  def incrementalDedupFromStoreAt(spark: org.apache.spark.sql.SparkSession,
      root: String, batch: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int, bands: Int, threshold: Double,
      beforeBatch: Option[Long] = None, masked: Boolean = false): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    // delta-side spread before signing (see incrementalDedupFromStore)
    val bSigs = withShingleSignatures(Parallelism.spread(batch, idCol),
      idCol, textCol, k, shingleN)
    def base(hits: Option[Seq[Long]]): DataFrame = {
      val raw = hits match {
        case Some(ids) => readBatchesPruned(spark, root, ids)
        case None => spark.read.parquet(root)
      }
      val cut = beforeBatch.map(b => raw.filter(col("batch") < b))
        .getOrElse(raw)
      if (masked) Tombstones(spark, root, cut, idCol) else cut
    }
    // band pruning only under the pinned banding the sidecars were
    // built with — any other banding scans the near side flat. Both
    // probe families ride ONE sidecar job ([[BatchBlooms.hits]]).
    val bandPinned = BatchStore
      .readIntMetaOpt(spark, root, "_bands", "bands").contains(bands)
    val groups =
      Seq("d" -> batch.select(md5(col(textCol)).as("chash"))) ++
        (if (bandPinned) Seq("b" -> bandKeyStrings(bSigs, k, bands))
         else Seq.empty)
    val (exactHits, nearHits) =
      BatchBlooms.hits(spark, root, groups, beforeBatch) match {
        case Some(hs) =>
          (Some(hs.head), if (bandPinned) Some(hs(1)) else None)
        case None => (None, None)
      }
    val exactStore = base(exactHits)
    val nearStore = base(nearHits)
    (Seq(idCol, "chash", "hs") ++ (0 until k).map(j => s"mh$j")).foreach(c =>
      require(nearStore.columns.contains(c),
        s"store is missing column $c — not a dedupSignatures(k=$k) store"))
    incrementalVerdicts(exactStore, nearStore, batch, bSigs, idCol, textCol,
      k, bands, threshold)
  }

  /** [[incrementalDedupFromStoreAt]] fed a PRE-SIGNED batch frame — a
    * [[dedupSignatures]]/[[dedupSignaturesFromHashed]] result the
    * caller owns (pinned): digests, band keys and shingle sets all
    * derive from it, so the slice's text is never re-tokenized or
    * re-hashed here. Verdicts are value-identical to the text-fed
    * path (same hash family, same joins); the r18 sign-once serve the
    * curation DAG's near mode uses so one signing pass feeds both the
    * verdicts and the epoch's signature-store append. */
  def incrementalDedupFromStoreAtSigned(
      spark: org.apache.spark.sql.SparkSession, root: String,
      signed: DataFrame, idCol: String, k: Int, bands: Int,
      threshold: Double, beforeBatch: Option[Long] = None,
      masked: Boolean = false): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    (Seq(idCol, "chash", "hs") ++ (0 until k).map(j => s"mh$j")).foreach(c =>
      require(signed.columns.contains(c),
        s"signed batch is missing column $c — not a dedupSignatures(k=$k) frame"))
    // withShingleSignatures drops rows that cannot shingle (null mh0);
    // the signed store frame keeps them for the exact pass — restore
    // the near side's filter here
    val bSigs = signed.filter(col("mh0").isNotNull)
    def base(hits: Option[Seq[Long]]): DataFrame = {
      val raw = hits match {
        case Some(ids) => readBatchesPruned(spark, root, ids)
        case None => spark.read.parquet(root)
      }
      val cut = beforeBatch.map(b => raw.filter(col("batch") < b))
        .getOrElse(raw)
      if (masked) Tombstones(spark, root, cut, idCol) else cut
    }
    val bandPinned = BatchStore
      .readIntMetaOpt(spark, root, "_bands", "bands").contains(bands)
    val groups =
      Seq("d" -> signed.select(col("chash"))) ++
        (if (bandPinned) Seq("b" -> bandKeyStrings(bSigs, k, bands))
         else Seq.empty)
    val (exactHits, nearHits) =
      BatchBlooms.hits(spark, root, groups, beforeBatch) match {
        case Some(hs) =>
          (Some(hs.head), if (bandPinned) Some(hs(1)) else None)
        case None => (None, None)
      }
    val exactStore = base(exactHits)
    val nearStore = base(nearHits)
    (Seq(idCol, "chash", "hs") ++ (0 until k).map(j => s"mh$j")).foreach(c =>
      require(nearStore.columns.contains(c),
        s"store is missing column $c — not a dedupSignatures(k=$k) store"))
    incrementalVerdictsCore(exactStore, nearStore,
      signed.select(col(idCol).as("bid"), col("chash")),
      signed.select(col(idCol)), bSigs, idCol, k, bands, threshold)
  }

  /** The incremental-verdict core over possibly DIFFERENTLY-PRUNED
    * exact/near store frames (identical when serving an explicit
    * frame): pruning moves scan bytes only — every join still
    * broadcasts a batch-derived side and the history is never
    * shuffled. */
  private def incrementalVerdicts(exactStore: DataFrame,
      nearStore: DataFrame, batch: DataFrame, bSigs: DataFrame,
      idCol: String, textCol: String, k: Int, bands: Int,
      threshold: Double): DataFrame =
    incrementalVerdictsCore(exactStore, nearStore,
      batch.select(col(idCol).as("bid"), md5(col(textCol)).as("chash")),
      batch.select(col(idCol)), bSigs, idCol, k, bands, threshold)

  /** [[incrementalVerdicts]] with the batch's digest and id frames
    * supplied directly — the seam the pre-signed serve shares with the
    * text-fed path (identical joins and arithmetic). */
  private def incrementalVerdictsCore(exactStore: DataFrame,
      nearStore: DataFrame, bDig: DataFrame, bIds: DataFrame,
      bSigs: DataFrame, idCol: String, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val rowsPerBand = k / bands
    val exact = exactStore.select(col("chash"))
      .join(broadcast(bDig), "chash")
      .select(col("bid")).distinct()
      .withColumn("is_exact_dup", lit(true))

    val hSigs = nearStore.filter(col("mh0").isNotNull)
    def bandKeys(sigs: DataFrame, outId: String): DataFrame = {
      val arr = array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", (0 until rowsPerBand).map(r =>
            col(s"mh${b * rowsPerBand + r}")): _*).as("key"))
      }: _*)
      sigs.select(col(idCol).as(outId), explode(arr).as("bk"))
        .select(col(outId), col("bk.band").as("band"), col("bk.key").as("key"))
    }
    val cand = bandKeys(hSigs, "hid")
      .join(broadcast(bandKeys(bSigs, "bid")), Seq("band", "key"))
      .select(col("bid"), col("hid")).distinct()
    val inter = size(array_intersect(col("sh_b"), col("sh_h")))
    val ver = hSigs.select(col(idCol).as("hid"), col("hs").as("sh_h"))
      .join(broadcast(cand), "hid")
      .join(broadcast(bSigs.select(col(idCol).as("bid"), col("hs").as("sh_b"))), "bid")
      .withColumn("jaccard", inter.cast("double") /
        (size(col("sh_b")) + size(col("sh_h")) - inter))
      .filter(col("jaccard") >= threshold)
    // countDistinct, not count: a healthy store has one row per
    // history doc (identical), but DUPLICATE store rows are a legal
    // transient — a compaction that committed its merged batch and
    // crashed before deleting the originals ([[compactSignatureStore]])
    // leaves every history doc twice. Distinct-hid counting makes the
    // verdict invariant under that window (and under idempotent
    // re-appends), so compaction needs no reader coordination.
    val near = ver.groupBy(col("bid")).agg(
      countDistinct(col("hid")).as("n_near_dups"),
      max(col("jaccard")).as("best_jaccard"))
    bIds
      .join(broadcast(exact), col(idCol) === exact("bid"), "left").drop("bid")
      .join(broadcast(near), col(idCol) === near("bid"), "left").drop("bid")
      .select(col(idCol),
        coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        col("best_jaccard"))
  }

  /** Exact-Jaccard verification of candidate pairs against distinct
    * shingle sets: |A∩B| / (|A|+|B|-|A∩B|). */
  private def verifyJaccard(pairs: DataFrame, shingled: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val sa = shingled.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val sb = shingled.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", inter.cast("double") / union)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** All-pairs n-gram Jaccard within buckets (the non-probabilistic
    * verifier; bucket columns bound the pair product). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double, bucketCols: Seq[String]): DataFrame = {
    // Empty shingle sets (docs shorter than n tokens) are excluded, as
    // in the LSH path: jaccard would be 0/0 = NaN, and NaN passes
    // `>= threshold` under Spark's NaN-greatest ordering.
    //
    // Pairs intersect HASHED shingle sets (distinct 60-bit longs), not
    // string arrays: the pair product dominates, and long equality is
    // ~10× cheaper per element than string hashing. The checkpoint
    // materializes one shingle+hash pass shared by both join sides.
    val shingled = df.select(
      (col(idCol) +: bucketCols.map(col)) :+
        shingles(tokens(col(textCol)), shingleN).as("sh"): _*)
      .filter(size(col("sh")) > 0)
      .withColumn("hsh", array_distinct(transform(col("sh"), s => hash60(s))))
      .drop("sh")
      .transform(Checkpoints.pin)
    val a = shingled.select(
      col(idCol).as("id_a") +: col("hsh").as("sh_a") +: bucketCols.map(col): _*)
    val b = shingled.select(
      col(idCol).as("id_b") +: col("hsh").as("sh_b") +: bucketCols.map(col): _*)
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    a.join(b, bucketCols).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", inter.cast("double") / union)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over a near-dup pair list: the step that
    * turns PAIRS into DEDUP DECISIONS. LSH emits (a,b), (b,c); keeping
    * "one of each pair" would wrongly retain b AND c — the unit of
    * deduplication is the transitive cluster, labeled here by its
    * minimum member id (the canonical survivor).
    *
    * Algorithm: iterative min-label propagation (the same fixpoint
    * GraphX's ConnectedComponents runs via Pregel): every node starts
    * at `min(self, neighbors)`, and each round each node takes the min
    * of its own and its neighbors' labels, until no label changes.
    * Rounds = graph diameter; each round is one hash join + one
    * aggregation, both shuffling on node id. Near-dup graphs are
    * overwhelmingly tiny star/clique clusters (diameter ≤ ~3), so this
    * converges in a handful of rounds; for adversarially deep graphs
    * (long chains) prefer star-contraction variants, which converge in
    * O(log n) rounds at the price of more complex rounds.
    *
    * Each round localCheckpoints the label frame: it truncates the
    * otherwise exponentially growing lineage AND pins the only state
    * the next round needs. Superseded rounds are unpersisted as soon
    * as the convergence probe (the materializing action for the next
    * round) completes, and the edge frame is released on return — a
    * call pins O(1) block sets while running and exactly ONE (the
    * returned labels) after it returns, not O(rounds). Lifecycle:
    * [[Checkpoints]].
    *
    * Returns (node, component): every id that appears in `pairs`,
    * labeled with the min id of its component. Singletons (ids never
    * paired) don't appear — callers re-attach them with a left join +
    * `coalesce(component, id)`.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 30): DataFrame = Checkpoints.scoped {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .transform(Checkpoints.pin) // re-read every round; one shuffle, once
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("nmin"))
      .select(col("src").as("node"), least(col("src"), col("nmin")).as("label"))
      .transform(Checkpoints.pin)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // The previous label rides through the union as `prev` (null on
      // neighbor rows; max() ignores nulls and each node contributes
      // exactly one non-null prev via its self row), so convergence
      // is read off the SAME aggregation that builds the round — the
      // old separate next⋈labels probe join was a whole extra
      // shuffle stage per round at any scale.
      val neighborLabels = edges
        .join(labels, edges("dst") === labels("node"))
        .select(edges("src").as("node"), col("label"),
          lit(null).cast("long").as("prev"))
      val self = labels.select(col("node"), col("label"),
        col("label").as("prev"))
      val next = neighborLabels.union(self)
        .groupBy(col("node")).agg(min(col("label")).as("label"),
          max(col("prev")).as("prev"))
        .transform(Checkpoints.pin)
      val changed = next.filter(col("label") < col("prev")).count()
      // `next` is fully materialized (eager checkpoint) and `changed`
      // no longer needs the previous round — release its blocks NOW,
      // not at scope end: near maxRounds the superseded rounds would
      // otherwise pin ~30 copies of the node set simultaneously.
      Checkpoints.releasePinned(labels)
      labels = next.select(col("node"), col("label"))
      converged = changed == 0
      rounds += 1
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxRounds rounds — graph diameter exceeds the bound; raise maxRounds or use a star-contraction variant")
    labels.select(col("node"), col("label").as("component"))
  }

  /** Canonical survivor per cluster by QUALITY: the curation step
    * after [[connectedComponents]] — min-id keepers (the q29/q59
    * convention) are arbitrary, but a training corpus wants the BEST
    * member of each duplicate cluster kept, not the first-crawled.
    * `labeled` carries (idCol, groupCol, scoreCol); returns one row
    * per group: `(groupCol, n_docs, canonical_id, canonical_score)` —
    * the member with the highest score, id ascending as the
    * deterministic tiebreak.
    *
    * Scale: ONE shuffle on the group key — size and rank come from
    * the same window partition, and near-dup clusters are tiny (the
    * q123/q125 bound), so per-group state is trivial. No join back to
    * the corpus: callers that need the losers anti-join on
    * canonical_id. */
  def canonicalByScore(labeled: DataFrame, idCol: String, groupCol: String,
      scoreCol: String): DataFrame = {
    val byGrp = Window.partitionBy(col(groupCol))
    val ordered = Window.partitionBy(col(groupCol))
      .orderBy(desc(scoreCol), col(idCol))
    labeled.select(col(groupCol), col(idCol), col(scoreCol))
      .withColumn("n_docs", count(lit(1)).over(byGrp))
      .withColumn("__rn", row_number().over(ordered))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col("n_docs"),
        col(idCol).as("canonical_id"), col(scoreCol).as("canonical_score"))
  }

  /** Per-doc SimHash over token hashes: bit b of the sketch is set
    * when the b-th bit is set in more token hashes than not.
    * `bits` <= 60 (hash60 width). */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    val tokenRows = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", hash60(col("tok")))
    val bitSumExprs = (0 until bits).map(b =>
      sum(shiftright(col("h"), b) % 2 * 2 - 1).as(s"s$b"))
    val bitSums = tokenRows.groupBy(col(idCol))
      .agg(bitSumExprs.head, bitSumExprs.tail: _*)
    val sketch = (0 until bits).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    bitSums.select(col(idCol), sketch.as("simhash"))
  }

  /** Hamming-banded near-dup pairs over a banded bit sketch — the
    * q30 MinHash-LSH candidate discipline applied to HAMMING space
    * (SimHash sketches, [[Multimodal.imageDHash]] perceptual hashes):
    * `bandCols` carry the sketch as B integer bands; a pair is a
    * CANDIDATE iff some band matches exactly, and candidates verify
    * against the exact Hamming distance `Σ bit_count(a_j XOR b_j)`.
    * By pigeonhole the banding is EXACT (candidates ⊇ all true pairs)
    * for `maxDist < B` — two sketches within B−1 bit flips must agree
    * on at least one of B bands; beyond that it is the usual LSH
    * recall trade. Returns `(id_a, id_b, dist)`, id_a < id_b.
    *
    * Scale: the self-join is on (band index, band value) — never
    * all-pairs; candidate volume is Σ bucket², the q30/q91 bound, and
    * verification is a band-column lookup join, not a re-decode. A
    * pathological bucket (e.g. the all-zero band of blank images)
    * concentrates like any LSH hot key — salt or drop promiscuous
    * buckets upstream if a corpus ships one. */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String,
      bandCols: Seq[String], maxDist: Int): DataFrame = {
    require(bandCols.nonEmpty, "need at least one band column")
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    val kb = hashes.select(col(idCol),
      posexplode(array(bandCols.map(col): _*)).as(Seq("__band", "__key")))
    val cand = kb.as("a").join(kb.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__key") === col("b.__key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val dist = bandCols.map(c =>
      bit_count(col(s"ha.$c").bitwiseXOR(col(s"hb.$c"))).cast("long"))
      .reduce(_ + _)
    cand
      .join(hashes.as("ha"), col("id_a") === col(s"ha.$idCol"))
      .join(hashes.as("hb"), col("id_b") === col(s"hb.$idCol"))
      .select(col("id_a"), col("id_b"), dist.as("dist"))
      .filter(col("dist") <= maxDist)
  }

  // ----------------------------- streamed near-dup admission sink

  /** STREAMED NEAR-DUP ADMISSION — the near-dup twin of the curation
    * DAG's exact dedup stage ([[graft.operators.CurationPipeline
    * .processSlice]] step 2), as its own exactly-once composition:
    * admit each slice document iff it has NO exact (content digest)
    * nor near (banded MinHash collision, Jaccard ≥ `threshold`)
    * duplicate among PRIOR epochs' ADMITTED content, keep the
    * min-id among in-slice exact duplicates, then commit the admitted
    * rows to `keptRoot` and their signatures to `sigRoot` as batch
    * `batchId` — the daily web-crawl refresh loop ("suppress
    * re-crawls and boilerplate-level rewrites of anything already
    * taken") run as a stream.
    *
    * Semantics are the sequential-fold contract (spec-pinned): the
    * admitted set equals folding the same slices in the same order
    * through [[incrementalDedupFromStore]] + the in-slice exact
    * keeper. In-slice NEAR duplicates are both admitted — the
    * incremental contract is history-vs-delta; run [[minhashLshPairs]]
    * upstream if a slice needs internal near-dedup. Sub-shingle
    * documents (no MinHash signature) can only exact-dup.
    *
    * Scale: inherits [[incrementalDedupFromStore]]'s asymmetry —
    * every join broadcasts a batch-derived side; the store is never
    * shuffled, per-epoch cost is one store scan plus the delta's own
    * signing. Crash-safe per the [[CurationPipeline]] discipline:
    * the kept commit is the epoch's completion marker, signatures are
    * committed first and guarded, and verdicts read strictly-prior
    * batches so a crash-window replay cannot dedup a slice against
    * its own signatures. */
  def nearDupAdmitSlice(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, textCol: String, k: Int,
      shingleN: Int, bands: Int, threshold: Double, sigRoot: String,
      keptRoot: String, batchId: Long): Unit = {
    def committed(root: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(root, s"batch=$batchId")
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    def hasBatches(root: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("batch="))
    }
    if (committed(keptRoot)) return // replayed epoch: already committed
    // the epoch's pins (the slice, and the verdict serve's signature
    // barrier) are released when its scope ends, a failed epoch
    // included — a long-running stream stays flat
    Checkpoints.scoped {
      // pin: the slice feeds the verdict join, the keeper window, and
      // both commits
      val hashed = batch
        .withColumn("__chash", md5(col(textCol))).transform(Checkpoints.pin)
      val vsStore =
        if (!hasBatches(sigRoot)) hashed
        else {
          // Bloom-pruned serve: exact + near passes each scan only the
          // strictly-prior batches whose sidecar sketch might collide
          // with THIS slice — per-epoch store input scales with the
          // slice's collisions, not the admitted history's depth
          val verd = incrementalDedupFromStoreAt(
            spark, sigRoot, hashed, idCol, textCol, k, shingleN, bands,
            threshold, beforeBatch = Some(batchId))
          val clean = verd
            .filter(!col("is_exact_dup") && col("n_near_dups") === 0)
            .select(col(idCol))
          hashed.join(clean, Seq(idCol))
        }
      val keeper = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__chash"))
      val admitted = vsStore
        .withColumn("__keep", min(col(idCol)).over(keeper))
        .filter(col(idCol) === col("__keep"))
        .drop("__chash", "__keep")
      if (!committed(sigRoot))
        writeSignatureStoreBanded(admitted, idCol, textCol, k, shingleN,
          bands, sigRoot, batchId)
      BatchStore.append(admitted, keptRoot, batchId)
    }
  }

  /** [[nearDupAdmitSlice]] as a `foreachBatch` sink — batch id =
    * `1 + epochId`, the shared exactly-once epoch discipline. */
  def nearDupAdmitSink(idCol: String, textCol: String, k: Int,
      shingleN: Int, bands: Int, threshold: Double, sigRoot: String,
      keptRoot: String): (DataFrame, Long) => Unit =
    (batch, epochId) => nearDupAdmitSlice(batch.sparkSession, batch,
      idCol, textCol, k, shingleN, bands, threshold, sigRoot, keptRoot,
      1L + epochId)

  // ------------------------------------ persisted Hamming-sketch store

  /** Append one slice's banded Hamming sketches (`idCol` + `bandCols`,
    * e.g. [[Multimodal.imageDHash]]'s four 16-bit bands) to the
    * persisted store at `root` — [[writeSignatureStore]]'s delta
    * discipline on the image/SimHash modality: a daily slice appends
    * only its own sketches; incremental near-dup
    * ([[incrementalHammingDedup]]) then costs the DELTA's hashing plus
    * a store scan, never a history re-decode. Each id must live in
    * exactly one batch (append deltas, don't re-append). */
  def writeHammingStore(hashes: DataFrame, idCol: String,
      bandCols: Seq[String], root: String, batchId: Long): Unit = {
    // drop any STALE sidecar for this batch id BEFORE the batch
    // commits: if a compacted-away id is re-appended, the window
    // between the batch commit and the fresh sidecar's rename would
    // otherwise let a concurrent serve prune the NEW batch against
    // the OLD batch's sketch — a possible missed duplicate (false
    // negative, the one failure class sidecars must never cause).
    // With the pre-delete the window's worst case is a sidecar-less
    // batch: always scanned, sound.
    val spark = hashes.sparkSession
    val sidecar = BatchBlooms.path(root, batchId)
    val sfs = sidecar.getFileSystem(spark.sessionState.newHadoopConf())
    if (sfs.exists(sidecar)) sfs.delete(sidecar, false)
    BatchStore.append(
      hashes.select((idCol +: bandCols).map(col): _*), root, batchId)
    // Bloom sidecar over the batch's (band, value) keys — the
    // signature-store discipline on the Hamming modality: the
    // incremental serve then scans only the history batches that can
    // band-collide with the slice. Written AFTER the batch commit (a
    // crash window leaves a batch that is simply always scanned);
    // compaction's merged batch is likewise sidecar-less until
    // [[refreshHammingBlooms]] — sound, never wrong.
    val dirPath = new org.apache.hadoop.fs.Path(root, s"batch=$batchId")
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dirPath)) {
      val b = spark.read.parquet(dirPath.toString)
      BatchBlooms.write(spark, root, batchId,
        hammingKeyStrings(b, bandCols).select(concat(lit("h:"),
          col("hkey")).as("k")),
        // footer row count — exact, no Spark job (see writeBatchBloom)
        BatchStore.committedRowCount(spark, root, batchId) * bandCols.size,
        Seq("h"))
    }
  }

  /** The Hamming band-key probe strings: `"<band index>:<value>"` —
    * shared verbatim by the sidecar build and the serve's probes so
    * the sketch space and the probe space are one. */
  private def hammingKeyStrings(df: DataFrame,
      bandCols: Seq[String]): DataFrame =
    df.select(explode(array(bandCols.zipWithIndex.map { case (c, i) =>
      concat_ws(":", lit(i), col(c).cast("string"))
    }: _*)).as("hkey"))

  /** Erase ids from the Hamming store — the shared [[Tombstones]]
    * discipline: content matching an ERASED image is admitted again
    * (the store no longer remembers it), exactly like the text
    * signature store. */
  def deleteFromHammingStore(ids: DataFrame, idCol: String, root: String,
      batchId: Long): Unit =
    Tombstones.append(ids, idCol, root, batchId)

  /** Physically drop tombstoned sketches and retire applied
    * tombstones. Sidecar hygiene runs after: the replaced batches'
    * sketches are swept (stale litter a later re-append of the same
    * batch id must never trust) — the purged batch itself stays
    * sidecar-less (always scanned, sound) until
    * [[refreshHammingBlooms]]. */
  def purgeHammingStore(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, newBatchId: Long): Int = {
    val n = Tombstones.purge(spark, root, idCol, newBatchId)
    BatchBlooms.danglingSweep(spark, root)
    n
  }

  /** Re-derive missing Hamming sidecars and drop dangling ones — the
    * maintenance hook after purge/compaction, and the convergence path
    * for a store that lost sidecars (crash between batch commit and
    * sidecar rename): without it such a store silently scans flat
    * forever. [[refreshSignatureBlooms]]' twin on the Hamming
    * modality; `bandCols` must match the store's layout. Returns the
    * number of sidecars written. */
  def refreshHammingBlooms(spark: org.apache.spark.sql.SparkSession,
      root: String, bandCols: Seq[String]): Int = {
    val missing = BatchBlooms.danglingSweep(spark, root)
    missing.foreach { id =>
      val dirPath = new org.apache.hadoop.fs.Path(root, s"batch=$id")
      val b = spark.read.parquet(dirPath.toString)
      BatchBlooms.write(spark, root, id,
        hammingKeyStrings(b, bandCols).select(concat(lit("h:"),
          col("hkey")).as("k")),
        b.count() * bandCols.size, Seq("h"))
    }
    missing.size
  }

  /** Near-dup verdicts for a DELTA of banded sketches against the
    * persisted history — [[incrementalDedupFromStore]]'s asymmetry on
    * Hamming space: the history is NEVER SHUFFLED (band keys explode
    * map-side from the store scan and stream against the BROADCAST
    * batch band keys — history×history collisions are never formed),
    * candidates verify by exact `bit_count(XOR)` distance, and
    * tombstoned history ids are masked before banding (erasure-aware,
    * like the signature store's read). Returns one row per batch id:
    * `(idCol, n_near_dups, best_dist)` — `best_dist` null when
    * nothing in history is within `maxDist`. Exact for
    * `maxDist < bandCols.size` by pigeonhole ([[hammingNearDupPairs]]).
    * The batch side must fit a broadcast — the incremental contract. */
  def incrementalHammingDedup(spark: org.apache.spark.sql.SparkSession,
      root: String, batch: DataFrame, idCol: String,
      bandCols: Seq[String], maxDist: Int): DataFrame = {
    require(bandCols.nonEmpty, "need at least one band column")
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    // Bloom-pruned store read (the signature-store discipline): only
    // history batches whose sidecar might band-collide with the slice
    // are scanned — serve input ∝ the slice's collisions, not corpus
    // age. Flat fallback below 4 batches / missing sidecars; pruned ≡
    // flat always (no false negatives).
    val raw = BatchBlooms.hits(spark, root,
        Seq("h" -> hammingKeyStrings(batch, bandCols)), None) match {
      case Some(Seq(ids)) => readBatchesPruned(spark, root, ids)
      case _ => BatchStore.read(spark, root)
    }
    val store = Tombstones.apply(spark, root, raw, idCol)
    def keys(df: DataFrame, outId: String) =
      df.select(col(idCol).as(outId),
        posexplode(array(bandCols.map(col): _*)).as(Seq("__band", "__key")))
    val cand = keys(store, "hid")
      .join(broadcast(keys(batch, "bid")), Seq("__band", "__key"))
      .select(col("bid"), col("hid")).distinct()
    val dist = bandCols.map(c =>
      bit_count(col(s"h.$c").bitwiseXOR(col(s"b.$c"))).cast("long"))
      .reduce(_ + _)
    val near = store.as("h")
      .join(broadcast(cand), col(s"h.$idCol") === col("hid"))
      .join(broadcast(batch.as("b")), col(s"b.$idCol") === col("bid"))
      .withColumn("__dist", dist)
      .filter(col("__dist") <= maxDist)
      .groupBy(col("bid"))
      // countDistinct, not count: duplicate store rows are a legal
      // compaction-crash transient (the signature-store rule)
      .agg(countDistinct(col("hid")).as("n_near_dups"),
        min(col("__dist")).as("best_dist"))
    batch.select(col(idCol))
      .join(broadcast(near), col(idCol) === near("bid"), "left").drop("bid")
      .select(col(idCol),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        col("best_dist"))
  }

  /** Elementwise-min union of MinHash signatures — a typed
    * [[org.apache.spark.sql.expressions.Aggregator]], the UDAF
    * extension point (the engine's first: everything else composes
    * built-ins or scalar Expressions). The MinHash of a UNION of
    * shingle sets is the elementwise min of the members' signatures,
    * so group/segment-level signatures are MERGEABLE state: reduce and
    * merge are both elementwise min (associative, commutative,
    * idempotent), Spark plans it with map-side partials, and persisted
    * group signatures can be rolled up later exactly like the q94/q101
    * partials — compare segments WITHOUT re-reading their documents. */
  final class SignatureMin(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)
    override def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      require(a != null, "null signature row — filter nulls before aggregating")
      require(a.length == k, s"signature length ${a.length} != k=$k")
      var i = 0; while (i < k) { if (a(i) < b(i)) b(i) = a(i); i += 1 }; b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0; while (i < k) { if (y(i) < x(i)) x(i) = y(i); i += 1 }; x
    }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** How [[groupMinhashJaccard]] grounds its signature estimate. */
  sealed trait Grounding
  /** Estimate only: `exact_jaccard` is null. The 100 TB default. */
  case object NoGrounding extends Grounding
  /** Full corpus-linear shingle join — the most expensive shape here;
    * use for gates and audits, never routinely at scale. */
  case object ExactGrounding extends Grounding
  /** Ground on a DETERMINISTIC hash-coin sample of the shingle space
    * (the q48 discipline): a shingle is kept iff
    * `hash60(h) mod denom < num`, so the SAME shingles are kept in
    * every group — set Jaccard over the sampled universe is an
    * unbiased estimate of the true Jaccard, and the whole grounding
    * pipeline (distinct shuffle + self-join) shrinks by num/denom.
    * At 100 TB a 1/1000 coin grounds the estimator for the cost of a
    * 0.1% corpus pass. Deterministic → reproducible → oracle-gated. */
  final case class SampledGrounding(num: Int, denom: Int) extends Grounding {
    require(denom >= 1 && num >= 1 && num <= denom,
      s"need 1 <= num <= denom, got $num/$denom")
  }

  /** Group-level similarity WITHOUT a document-pair product: per-group
    * MinHash signatures via [[SignatureMin]] plus an optional
    * per-group shingle-set Jaccard to ground the estimate. Returns one
    * row per group pair (groupA < groupB):
    * `(ga, gb, sig_matches, est_jaccard, exact_jaccard)` — the last
    * column named `sampled_jaccard` under [[SampledGrounding]], and
    * null under [[NoGrounding]].
    *
    * Scale: the signature side aggregates |groups| rows of k longs
    * (mergeable — at 100 TB the signatures live in the daily partials
    * and only the tiny group×k frame is ever paired). Grounding joins
    * distinct (group, shingle) rows on the shingle hash —
    * corpus-linear under [[ExactGrounding]], so at scale ground with
    * [[SampledGrounding]] (the coin filters BEFORE the distinct, so
    * shuffle and join both shrink by num/denom) or not at all. */
  def groupMinhashJaccard(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, k: Int, shingleN: Int,
      grounding: Grounding = NoGrounding): DataFrame = {
    val s = withShingleSignatures(df, idCol, textCol, k, shingleN,
      carry = Seq(groupCol))
    val sigArr = array((0 until k).map(j => col(s"mh$j")): _*)
    val minAgg = udaf(new SignatureMin(k))
    val groupSigs = s.groupBy(col(groupCol))
      .agg(minAgg(sigArr).as("gsig"))

    val matches = (0 until k).map(j =>
      when(element_at(col("sa"), j + 1) === element_at(col("sb"), j + 1), 1L)
        .otherwise(0L)).reduce(_ + _)
    val estimated = groupSigs.as("x").join(groupSigs.as("y"),
        col(s"x.$groupCol") < col(s"y.$groupCol"))
      .select(col(s"x.$groupCol").as("ga"), col(s"y.$groupCol").as("gb"),
        col("x.gsig").as("sa"), col("y.gsig").as("sb"))
      .withColumn("sig_matches", matches)

    grounding match {
      case NoGrounding =>
        estimated.select(col("ga"), col("gb"), col("sig_matches"),
          (col("sig_matches").cast("double") / k).as("est_jaccard"),
          lit(null).cast("double").as("exact_jaccard"))
      case g =>
        val exploded = s.select(col(groupCol), explode(col("hs")).as("h"))
        val (universe, outCol) = g match {
          case SampledGrounding(num, denom) =>
            // map-side coin BEFORE the distinct: the grounding
            // shuffle and self-join never see unsampled shingles
            (exploded.filter(
              pmod(TextFunctions.hash60(col("h").cast("string")),
                lit(denom.toLong)) < num), "sampled_jaccard")
          case _ => (exploded, "exact_jaccard")
        }
        val sets = universe.distinct()
        val sizes = sets.groupBy(col(groupCol)).agg(count(lit(1)).as("n_sh"))
        val inter = sets.as("ia").join(sets.as("ib"),
            col("ia.h") === col("ib.h") &&
              col(s"ia.$groupCol") < col(s"ib.$groupCol"))
          .groupBy(col(s"ia.$groupCol").as("ga"), col(s"ib.$groupCol").as("gb"))
          .agg(count(lit(1)).as("n_inter"))
        val ni = coalesce(col("n_inter"), lit(0L))
        val union = col("na.n_sh") + col("nb.n_sh") - ni
        estimated
          .join(broadcast(sizes.as("na")), col("ga") === col(s"na.$groupCol"))
          .join(broadcast(sizes.as("nb")), col("gb") === col(s"nb.$groupCol"))
          .join(broadcast(inter), Seq("ga", "gb"), "left")
          .select(col("ga"), col("gb"), col("sig_matches"),
            (col("sig_matches").cast("double") / k).as("est_jaccard"),
            // a pair whose SAMPLED union is empty grounds nothing:
            // null, not a 0/0 NaN the oracle can't reproduce
            when(union === 0, lit(null).cast("double"))
              .otherwise(ni.cast("double") / union).as(outCol))
    }
  }
}
