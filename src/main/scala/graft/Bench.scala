package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (`BENCH_r{N}.json`). Each query
  * reports the median of three timed runs, so one GC pause or
  * stage-scheduling hiccup can't masquerade as a round-over-round
  * regression.
  *
  * The artifact must be AUDITABLE: a bench that runs concurrently with
  * other load can report 10–50× noise on shuffle-heavy queries while
  * trivial scans stay flat, and a bare median is indistinguishable from
  * a real plan regression. So every run's raw time is emitted
  * (`runs`), plus machine load before/after (`loadavg`) and total JVM
  * GC time (`gc_ms`) — a contaminated run is self-evident in the
  * record, and any query whose spread exceeds 3× is re-run up to two
  * extra times before the median is taken.
  */
object Bench {
  /** Representative spread: scans+aggs, joins, top-k, windows, SCD2,
    * the training-data ops (LSH dedup, SimHash, ANN brute + bucketed),
    * as-of association, the ranking suite — plus the reference's own
    * workload end-to-end (`rcm_pipeline`: CSV extract → star + SCD2 →
    * parquet write-verify → Q1 KPI). */
  val headline: Seq[String] = Seq(
    "q01_global_agg", "q02_groupby_agg", "q03_join_groupby",
    "q05_conditional_rates", "q09_top20_ltv", "q10_brand_profitability",
    "q20_scd2_incremental", "q22_sessionize",
    "q29_dedup_exact", "q30_minhash_lsh", "q31_simhash",
    "q34_ann_brute_force", "q35_ann_bucketed", "q43_asof_attribution",
    "q44_rank_suite", "q51_ivf_assign", "q52_ivf_multiprobe",
    "q63_curation_pipeline", "q66_pii_redaction", "q67_kmeans_step",
    "q68_chunking", "q69_keywords", "q72_bpe_pairs", "q75_quantize_int8",
    "q79_snapshot_diff", "q82_salted_join", "q90_token_dot",
    "q91_rp_lsh_neardup", "q92_trailing_window",
    // round-4/5 tail: exact slopes, rollup-of-partials, binning,
    // argmax, frame sampling, grouping sets, ratio-to-report, native
    // session_window, sketch rollup, group signatures, correlated
    // subqueries, transitions, cohorts, MAD outliers, bucketed sink +
    // co-located join, AV container probe, CDC-pruned SCD2, IVF recall
    "q93_trend_slope", "q94_incremental_rollup", "q95_quantile_bins",
    "q96_argmax_agg", "q97_frame_sample", "q98_grouping_sets",
    "q99_ratio_to_report", "q100_session_window", "q101_sketch_rollup",
    "q102_group_signature", "q103_correlated_subqueries",
    "q104_transition_matrix", "q105_cohort_retention", "q106_mad_outliers",
    "q107_bucketed_join", "q108_av_containers", "q109_scd2_changed_only",
    "q110_ivf_recall", "q111_image_stats", "q112_interval_left_join",
    "q113_interval_full_join", "q114_frame_sample_probed",
    "q115_frame_sample_exact", "q116_compressed_audio",
    "q117_interval_join_streamed",
    // round-7 tail: VBR-header audio probe, sampled signature
    // grounding, streamed left-outer twin, substring-level dedup,
    // streamed watermark-TTL'd dedup, semantic (SemDeDup) dedup
    "q119_vbr_audio", "q120_sampled_grounding",
    "q118_interval_left_streamed", "q121_substring_dedup",
    "q122_streamed_dedup", "q123_semantic_dedup",
    "q124_sessionize_streamed",
    // round-8 tail: leakage-safe cluster split, distributed global
    // prefix-sum sharding, streamed stream-static enrichment gate
    "q125_cluster_split", "q126_contiguous_shards",
    "q127_stream_static_enriched", "q128_incremental_dedup",
    "q129_source_contribution", "q130_text_embed_neardup",
    // round-9 tail: encoder→RP-LSH corpus-scale near-dup, plus the
    // checkpoint-recovery (kill + restart) streamed gates
    "q131_embed_lsh_neardup", "q132_dedup_restarted",
    "q133_sessionize_restarted", "q134_incremental_from_store",
    "q135_int8_topk", "q136_int8_recall", "q137_running_totals_streamed",
    "q138_inverted_index", "q139_term_search", "q140_canonical_by_quality",
    // round-9 tail (second pass): KMV cross-source overlap matrix,
    // warm-started (initial-state) streaming dedup gate
    "q141_source_overlap", "q142_bootstrap_dedup_streamed",
    "q143_bootstrap_dedup_restarted", "q144_phrase_search",
    "q145_kmv_distinct", "q146_pq_ann", "q147_adaptive_quality_cutoff",
    "q148_ivfpq_ann", "q149_kmv_sketch_streamed", "q151_ranked_search",
    // round-10 tail: trained-PQ retrieval quality on the planted
    // fixture, idf-weighted ranked retrieval, planted IVF-PQ
    "q150_pq_trained_planted", "q152_ivfpq_planted",
    "q153_bm25_search", "q154_ngram_repetition", "q155_containment",
    "q156_semantic_decontamination", "q157_bpe_train", "q158_bpe_segment",
    "q159_posting_store_search", "q160_passage_retrieval",
    "q161_bm25_store", "q162_split_leakage_audit", "q163_jsonl_roundtrip",
    "q164_mmr_rerank", "q165_hard_negatives", "q166_jsonl_streamed",
    "q167_retrieval_mrr", "q168_orc_roundtrip", "q169_posting_compacted",
    "q170_topk_streamed", "q171_image_resize",
    // round-11 tail (all sf-scaled — none belong in totalExcludes):
    // LSH-fronted passage retrieval, batched BPE, sharded posting
    // export, PQ codebook training (q146/q148 now time SERVING from
    // the model store; q175 is the training cost as its own number)
    "q172_lsh_passage_retrieval", "q173_bpe_batched",
    "q174_posting_export", "q175_pq_train",
    // q176 serves from the persisted PQ code store (embeddings-scaled);
    // q177 streams the WHOLE corpus through the posting-store sink —
    // measured 1.8× at 10× (corpus work dominates the fixed streaming
    // machinery), so unlike the bounded-slice streamed gates it stays
    // in the scaled total
    "q176_pq_index_store", "q177_posting_store_streamed",
    "q178_bpe_apply_unseen", "q179_ivfpq_index_store",
    // q180 runs the takedown lifecycle end-to-end (build + delete +
    // masked serve + purge + re-serve) over the whole corpus —
    // sf-scaled, stays in the scaled total; q181/q182 train + score
    // the bigram LM over the corpus split — likewise sf-scaled
    "q180_posting_tombstones", "q181_bigram_lm", "q182_lm_store",
    // q183 streams the WHOLE training corpus through the
    // decontamination sink — corpus work dominates (the q177
    // argument), so it stays in the scaled total; q184 is q181's
    // corpus split under backoff smoothing — sf-scaled
    "q183_decontaminate_streamed", "q184_stupid_backoff",
    // q185 trains + classifies over the corpus split — sf-scaled;
    // q186/q187 stream-build / delete-purge-serve the IVF-PQ index
    // over the whole embeddings table (embeddings-scaled, like
    // q176/q179)
    "q185_langid_trained", "q186_ivfpq_streamed", "q187_ivfpq_tombstones",
    // q188 builds + erases + verdicts over the corpus split — sf-scaled
    "q188_signature_erasure",
    // round-12 tail (all sf-scaled, none in totalExcludes): q189/q190
    // build + erase + compact + serve the LM store over corpus splits,
    // q191 the lang-id store, q192 trains trigram+bigram counts and
    // scores the held-out split
    "q189_lm_store_erasure", "q190_backoff_from_store",
    "q191_langid_erasure", "q192_trigram_backoff",
    // q193 chains the LSH candidate build + MMR + the in-query brute
    // recall gate over corpus splits — sf-scaled like q164/q172
    "q193_lsh_mmr_rerank",
    // round-13 tail (sf-scaled, none in totalExcludes): q194 streams
    // the whole corpus through the LM-store sink then serves (the
    // q177 shape on the count store); q195 fits both hashed-n-gram
    // distributions and scores every candidate
    "q194_lm_store_streamed", "q195_dsir_selection",
    // q196 builds the corpus rollup, then the rewritten aggregate
    // scans it — both halves sf-scaled
    "q196_rollup_rewrite",
    // q197 re-scores the LSH candidates token-by-token — candidate
    // work rides the sf-scaled corpus front like q193; q198/q199 add
    // the persisted token index (build + serve / erase + purge), both
    // corpus-write-scaled like q161/q180
    "q197_maxsim_rerank", "q198_token_index_store",
    "q199_token_index_erasure",
    // q200 streams the whole passage corpus through the token-index
    // sink then serves — corpus work dominates, like q177/q194
    "q200_token_index_streamed",
    // q201 builds + erases + compacts the target store over corpus
    // splits, then scores every candidate twice — sf-scaled like q189
    "q201_dsir_store_erasure",
    // q202 streams the curated slices through the target sink then
    // scores every candidate — corpus work dominates, like q194
    "q202_dsir_store_streamed",
    // q203 appends two rollup slices then serves the rewritten
    // aggregate from the multi-batch partials — sf-scaled like q196
    "q203_incremental_rollup_rewrite",
    // q204 builds the int8-packed token index then serves MaxSim
    // from unpacked codes — corpus-write-scaled like q198
    "q204_token_index_int8",
    // q205 is q196 through the SQL front door — same shape
    "q205_rollup_rewrite_sql",
    // q206 builds the two-run SCD2 dim then joins every order to its
    // valid-at-date version — fact-dim equi-join, sf-scaled
    "q206_scd2_point_in_time",
    // q207 trains the tokenizer once into the durable model store and
    // segments the unseen half from the served merges — q178's shape
    // plus the artifact round-trip
    "q207_bpe_from_model_store",
    // round-14 tail (sf-scaled, none in totalExcludes): q208 is q203
    // with the second slice appended post-registration (the freshness
    // refresh) — same two-append + rewritten-serve shape
    "q208_rollup_fresh_append",
    // q209 shuffles every corpus line once (the df count) and strips
    // in-row — both passes sf-scaled
    "q209_boilerplate_strip",
    // q210 trains the hashed-feature NB through the full store
    // lifecycle and classifies the held-out quarter — corpus feature
    // passes dominate, like q195
    "q210_quality_classifier_store",
    // q211 scores every candidate under the stored LM then cuts per
    // source at the exact quantile — q181's scoring plus q147's
    // selection, both sf-scaled
    "q211_lm_quality_filter",
    // q212 composes the tag strip with the line dedup — q209's shape
    // plus one regex pass over the corpus
    "q212_markup_boilerplate",
    // q213 streams the labeled slices through the exactly-once
    // quality-model sink then classifies the held-out quarter —
    // corpus work dominates, like q194/q202
    "q213_quality_store_streamed",
    // q214 chains the strip into exact dedup and survivor stats —
    // q209's shuffle plus one (id, digest) hash pass
    "q214_curation_pipeline",
    // q215 runs both PRF passes over the persisted postings — two
    // pushed-filter store scans + the feedback docs' token count,
    // sf-scaled like q161
    "q215_prf_expansion",
    // q216 runs the line-df store lifecycle (append x2 + erasure +
    // two served strips + compaction + equality gate) — sf-scaled
    // like q189/q201
    "q216_boilerplate_store",
    // q217 streams the corpus through the exactly-once rollup sink
    // then serves the rewritten aggregate — corpus work dominates,
    // like q194/q202
    "q217_rollup_streamed",
    // q218/q219 decode two PNG renditions per document (real JDK
    // decode, map-side) — sf-scaled via the documents id set; q219
    // adds the Hamming band join (candidate-sized, the q30 shape)
    "q218_image_dhash", "q219_image_near_dup",
    // q220 builds all nine doc-derived stores, fans one erasure
    // across them and purges — the composed-takedown lifecycle;
    // corpus-sized store writes dominate, like q199/q210/q216
    "q220_forget_everywhere",
    // q221 streams the corpus through the full curation DAG (strip →
    // dedup → classifier → LM gate → mixture → packed shards) —
    // corpus work through five gated stages, like q214 + the sinks
    "q221_curation_streamed",
    // q222 runs the hamming signature store lifecycle (two appends +
    // erasure + two served incremental dedups + compaction) on real
    // decoded image hashes — sf-scaled like q132/q188
    "q222_image_hash_store",
    // q223 is q221 killed and restarted from its checkpoint — the
    // recovery composition, like q143
    "q223_curation_restarted",
    // round-15 tail (sf-scaled, none in totalExcludes): q224 is q221
    // with the disposition ledger on — the DAG plus slice-sized
    // id-projected anti-joins and one more epoch-committed store
    "q224_curation_ledger",
    // q225 assigns every embedding map-side (broadcast centroids) and
    // ranks within cluster — one centroid_id shuffle, sf-scaled
    "q225_prototype_prune",
    // q226 appends the corpus twice and reads as-of batch 1 — the
    // rollups are corpus-scaled, the as-of scan directory-pruned
    "q226_store_asof",
    // q227 packs the corpus twice under different epoch seeds — two
    // q64-shaped shard-window passes
    "q227_epoch_shuffle",
    // q228 lands the corpus in the kept store, fans one takedown
    // across kept + ledger, and packs through the masked read twice
    // (pre/post purge) — corpus-sized store writes dominate
    "q228_kept_erasure",
    // q229 appends two schema generations, serves the merged-footer
    // read, and compacts evolved — corpus-sized writes dominate
    "q229_store_evolution",
    // q230 chunks the corpus, hashes every chunk's tokens, and ranks
    // sparse cosines against the broadcast queries — token-volume
    // explode + one (id, bucket) agg + the bucket-join dots
    "q230_hashed_retrieval",
    // q231 runs the hashed-store lifecycle (two appends + tombstone
    // erasure + masked serve + purge + served-identity gate) —
    // sf-scaled like q189/q216
    "q231_hashed_store",
    // q232 streams the corpus slices through the exactly-once
    // hashed-store sink then serves — corpus work dominates, like
    // q177/q194
    "q232_hashed_streamed",
    // q233 is q230 through the SQL front door — same shape
    "q233_hashed_retrieval_sql",
    // q234 ranks the corpus twice (exact-TF truth + dim-64 hashed)
    // and joins the top-5 sets — two q230-shaped passes
    "q234_hashing_recall",
    // q235 appends three slices to the packed-layout store — three
    // slice-sized q64 windows + sidecar-carried offsets
    "q235_incremental_packing",
    // q236 is q235 fed by the checkpointed file source (pinned-mtime
    // epoch order) — stream machinery + the same slice windows
    "q236_incremental_packing_streamed",
    // q237 is q220 over the COMPLETE 14-kind registry (adds IVF-PQ,
    // Hamming, ledger, kept, hashed features) — corpus-sized store
    // writes dominate, one forget + one purge window
    "q237_forget_full_registry",
    // q238 streams the corpus through the exactly-once near-dup
    // admission sink — per-epoch incrementalDedupFromStore (broadcast
    // batch side) + the admitted signatures' append, like q142/q221
    "q238_neardup_admission_streamed",
    // round-17 tail: q239 lands the history as nine banded store
    // batches (each append also commits its Bloom sidecars) and
    // serves the day's verdicts through the sidecar-pruned scan —
    // corpus-sized store writes dominate, like q188/q216
    "q239_bloom_pruned_dedup",
    // q240 builds + fully PCM-decodes one fixture WAV per document —
    // map-side, sf-scaled via the documents id set like q218
    "q240_wav_pcm_decode",
    // q241 streams the corpus through the DAG with near-dup admission
    // on — q221's cost plus the per-epoch MinHash signing/verdicts
    "q241_curation_neardup",
    // round-18 tail: q242 windows q240's decoded samples — the same
    // map-side per-doc decode cost plus the per-window integer folds
    "q242_wav_energy_windows",
    // q243 is q224's streamed-DAG cost plus the retire + retained serve
    "q243_ledger_retention")

  /** `--quick` skips these — the composite LIFECYCLE/serving gates
    * that dominate the wall clock (top of the r13 cost profile:
    * ~150 s of the ~300 s full sweep for 21 of 145 queries). Each is
    * a multi-stage store build + serve + erase/compact chain whose
    * pieces the cheap queries already cover individually, so the
    * quick signal stays broad while iteration stays fast. The DEFAULT
    * (driver) run times everything — round-over-round artifacts keep
    * the full common set. */
  private val quickSkips: Set[String] = Set(
    "q199_token_index_erasure", "q200_token_index_streamed",
    "q204_token_index_int8", "q198_token_index_store",
    "q197_maxsim_rerank", "q193_lsh_mmr_rerank", "q191_langid_erasure",
    "q164_mmr_rerank", "q180_posting_tombstones",
    "q177_posting_store_streamed", "q169_posting_compacted",
    "q161_bm25_store", "q183_decontaminate_streamed",
    "q174_posting_export", "q159_posting_store_search",
    "q118_interval_left_streamed", "q117_interval_join_streamed",
    "q188_signature_erasure", "q152_ivfpq_planted",
    "q160_passage_retrieval", "q172_lsh_passage_retrieval",
    // round-15 composites: the nine-store takedown and the two
    // streamed-DAG gates are each a full multi-store lifecycle
    "q220_forget_everywhere", "q221_curation_streamed",
    "q223_curation_restarted",
    // q224 is q221 with the ledger on — the same streamed-DAG cost
    "q224_curation_ledger",
    // q237 is q220 over the complete 14-kind registry
    "q237_forget_full_registry",
    // q238 is three streamed epochs of store signing + verdicts
    "q238_neardup_admission_streamed",
    // q239 is nine store appends (each with its Bloom sidecars) + the
    // pruned serve — a full store lifecycle like q188
    "q239_bloom_pruned_dedup",
    // q241 is the streamed DAG with near-dup admission — the q221 cost
    "q241_curation_neardup",
    // q243 is q224 with the retention leg — the same streamed-DAG cost
    "q243_ledger_retention")

  private val runsPerQuery = 3
  /** Extra runs granted when max/min spread exceeds this — one noisy
    * run then costs a re-measure instead of poisoning the median. */
  private val spreadLimit = 3.0
  private val maxExtraRuns = 2

  /** True median: the spread gate grows the run list to even lengths
    * (3+1=4), where the upper-middle element alone would be an
    * upward-biased "median" precisely for the contended queries the
    * gate targets — so even lengths average the two middle elements. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def loadAvg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  private[graft] def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Release persisted blocks between timed runs: clearCache() frees
    * only catalog-cached tables, and each timed run's result still
    * holds the pins it reaches. Each timed run builds its frames from
    * scratch, so no prior run's checkpoint is ever re-read:
    * unpersisting them is safe. It is a session-wide sweep: never call
    * it while another job on the session still reads a pinned frame.
    * Lifecycle: [[graft.operators.Checkpoints]]. */
  def releaseBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Stronger isolation for a TIMED run's start line: releaseBlocks
    * with BLOCKING unpersist (async release lets the previous query's
    * checkpoint blocks still occupy storage memory while this query
    * runs — eviction pressure billed to the wrong query; the round-4
    * q22 drift pattern) plus an explicit GC so heap pressure from a
    * checkpoint-heavy neighbor (q20/q30/q63) is paid BEFORE t0, not
    * during the measured run. */
  private[graft] def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Repo root for committed bench artifacts: prefer /root/repo (the
    * driver's checkout) when it exists, else the working directory. */
  private def repoRoot: java.io.File = {
    val fixed = new java.io.File("/root/repo")
    if (fixed.isDirectory) fixed else new java.io.File(".")
  }

  /** Round number this bench run belongs to: one past the newest
    * driver artifact (`BENCH_r{N}.json`) in the repo — the driver
    * writes r{N} AFTER this program runs, so during round N the
    * newest on disk is r{N-1}. No artifacts → round 1. */
  private def currentRound: Int = {
    val ns = Option(repoRoot.listFiles()).toSeq.flatten
      .map(_.getName).collect {
        case n if n.matches("BENCH_r\\d+\\.json") =>
          n.replaceAll("\\D", "").toInt
      }
    if (ns.isEmpty) 1 else ns.max + 1
  }

  /** Persist the COMPLETE bench line to `bench/local_r{N}.json` in the
    * repo. The driver's own BENCH_r{N}.json wraps a truncated TAIL of
    * the printed line — medians for early queries are routinely cut
    * off, which through [[priorMedians]] silently disabled the delta
    * gate for most of the registry. This committed twin is the
    * authoritative record: every query's median and raw runs survive,
    * and the next round's gate recomputes priors from it first. */
  private def writeLocalArtifact(line: String, quick: Boolean): Unit = {
    try {
      val dir = new java.io.File(repoRoot, "bench")
      dir.mkdirs()
      // a --quick run must NEVER clobber the round's authoritative
      // artifact: the next round's delta gate recomputes priors from
      // local_r{N}.json, and a partial quick sweep would silently
      // drop the skipped queries from the prior set
      val f = new java.io.File(dir,
        if (quick) "local_quick.json" else s"local_r$currentRound.json")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(line) finally w.close()
      System.err.println(s"[bench] full artifact written to $f")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] local artifact write failed: ${e.getMessage}")
    }
  }

  /** The committed plan snapshot (`bench/plans.json`) for `sfDir` —
    * empty when absent, unparseable, or taken at a different sf
    * (broadcast thresholds legitimately flip plans across scale
    * factors). */
  private[graft] def readPlanSnapshot(sfDir: String,
      benchDir: java.io.File = new java.io.File(repoRoot, "bench"))
      : Map[String, String] = {
    val f = new java.io.File(benchDir, "plans.json")
    val sfName = new java.io.File(sfDir).getName
    if (!f.isFile) Map.empty
    else try {
      import org.json4s._
      val json = org.json4s.jackson.JsonMethods.parse(
        scala.io.Source.fromFile(f).mkString)
      if ((json \ "sf") != JString(sfName)) Map.empty
      else json \ "plans" match {
        case JObject(fields) =>
          fields.collect { case (n, JString(h)) => n -> h }.toMap
        case _ => Map.empty
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Rewrite the snapshot for the next round — called AFTER the timed
    * runs complete and only on an error-free full run (a bench that
    * fails must not have already clobbered the prior snapshot during
    * warmup). Prior entries for queries MISSING from `current` (a
    * warmup whose plan hash failed) are kept as long as the query is
    * still registered — dropping them would make a real plan change
    * there read as an 'addition' next round; entries for deleted
    * queries are retired. Quick runs never write: they skip queries,
    * and a partial snapshot would erase the skipped entries from the
    * next round's prior. */
  private[graft] def writePlanSnapshot(sfDir: String,
      prior: Map[String, String], current: Map[String, String],
      benchDir: java.io.File = new java.io.File(repoRoot, "bench")): Unit = {
    val f = new java.io.File(benchDir, "plans.json")
    val sfName = new java.io.File(sfDir).getName
    val merged =
      prior.filter(kv => SparkEntry.queries.contains(kv._1)) ++ current
    try {
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println("{\"sf\":\"" + sfName + "\",\"plans\":{" +
        merged.toSeq.sortBy(_._1)
          .map { case (n, h) => "\"" + n + "\":\"" + h + "\"" }
          .mkString(",") + "}}")
      finally w.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] plan snapshot write failed: ${e.getMessage}")
    }
  }

  /** Prior-round per-query medians for the delta gate. Candidate order:
    * SPARK_GRAFT_PRIOR_BENCH, then the newest PRIOR-round
    * `bench/local_r*.json` (complete, written by this program last
    * round — see [[writeLocalArtifact]]), then the newest driver
    * `BENCH_r{N}.json`. Driver artifacts wrap a TRUNCATED tail of this
    * program's output line — queries{} medians are usually cut off but
    * trailing runs{} arrays survive, so medians are recomputed from
    * raw runs (the name pattern admits `rcm_pipeline` as well as
    * `q*`). Candidates are tried IN ORDER until one parses with a
    * matching scale factor — cross-sf medians would trip the gate on
    * every query. All absent/corrupt/mismatched → empty map, gate
    * disabled.
    *
    * SAME-ROUND artifacts are excluded ([[isPriorRound]]): a bench
    * re-run within a round overwrites `local_r{N}.json`, and a prior
    * taken from it makes the gate compare a run against its sibling
    * minutes earlier — cross-ROUND drift (the r8→r9 q90 1.56×) then
    * never trips the isolated re-run the gate exists for. The prior
    * must be the last COMMITTED round's record. */
  private def priorMedians(sfDir: String): Map[String, Double] = {
    val sfOfDir = new java.io.File(sfDir).getName.stripPrefix("sf").toDoubleOption
    def artifactsIn(dir: java.io.File, pat: String) =
      Option(dir.listFiles()).toSeq.flatten
        .filter(f => f.getName.matches(pat) && isPriorRound(f.getName, currentRound))
        .sortBy(_.getName.replaceAll("\\D", "").toInt).reverse
    val candidates = (
      sys.env.get("SPARK_GRAFT_PRIOR_BENCH").map(new java.io.File(_)).toSeq ++
        artifactsIn(new java.io.File(repoRoot, "bench"), "local_r\\d+\\.json") ++
        artifactsIn(new java.io.File("."), "BENCH_r\\d+\\.json") ++
        artifactsIn(new java.io.File("/root/repo"), "BENCH_r\\d+\\.json")
      ).filter(_.isFile).distinct
    def parseOne(f: java.io.File): Option[Map[String, Double]] =
      try mediansFromArtifact(scala.io.Source.fromFile(f).mkString, sfOfDir)
      catch { case scala.util.control.NonFatal(_) => None }
    candidates.view.flatMap(parseOne).headOption.getOrElse(Map.empty)
  }

  /** True iff `name`'s round number is strictly BEFORE `round` — the
    * delta-gate prior eligibility rule (a same-round rewrite is a
    * sibling run, not a prior; see [[priorMedians]]). Names with no
    * digits are ineligible. Package-private for BenchArtifactSpec. */
  private[graft] def isPriorRound(name: String, round: Int): Boolean = {
    val digits = name.replaceAll("\\D", "")
    digits.nonEmpty && digits.toInt < round
  }

  /** Recover per-query medians from one bench artifact, either shape:
    * the COMPLETE local twin (runs{} is a real JSON object — every
    * query's raw runs read directly) or the driver wrapper (a
    * truncated tail string — runs regex-recovered; the pattern admits
    * `rcm_pipeline` as well as `q*`, the old `q\w+`-only pattern
    * silently excluded the pipeline from the delta gate). None unless
    * the artifact's sf matches `wantSf` — cross-sf medians would trip
    * the gate on every query. Package-private for BenchArtifactSpec. */
  private[graft] def mediansFromArtifact(
      raw: String, wantSf: Option[Double]): Option[Map[String, Double]] = {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(raw)
    val priorSf = json \ "sf" match {
      case JDouble(v) => Some(v)
      case JInt(v) => Some(v.toDouble)
      case JDecimal(v) => Some(v.toDouble)
      case JString(s) =>
        new java.io.File(s).getName.stripPrefix("sf").toDoubleOption
      case _ => None
    }
    if (priorSf.isEmpty || wantSf.isEmpty || priorSf != wantSf) None
    else {
      val fromRuns = json \ "runs" match {
        case JObject(fields) => fields.collect {
          case (name, JArray(vals)) =>
            val ds = vals.collect {
              case JDouble(v) => v
              case JInt(v) => v.toDouble
              case JDecimal(v) => v.toDouble
            }
            name -> ds
        }.collect { case (n, ds) if ds.nonEmpty => n -> median(ds) }.toMap
        case _ => Map.empty[String, Double]
      }
      val fromTail = if (fromRuns.nonEmpty) Map.empty[String, Double] else {
        val tail = json \ "tail" match { case JString(s) => s; case _ => raw }
        val runsRe = """"(q\w+|rcm_pipeline)":\[([0-9.,eE+-]+)\]""".r
        runsRe.findAllMatchIn(tail).map { mm =>
          mm.group(1) -> median(mm.group(2).split(",").toSeq.map(_.toDouble))
        }.toMap
      }
      val m = if (fromRuns.nonEmpty) fromRuns else fromTail
      if (m.isEmpty) None else Some(m)
    }
  }

  /** The reference workload end-to-end: extract the reference CSVs,
    * build the star schema with SCD2, write-verify all tables, compute
    * the Q1 revenue KPI. Mirrors `graft.etl.RcmRun` minus the prints. */
  private def rcmPipeline(spark: SparkSession, refDir: String): Unit = {
    val outDir = java.nio.file.Files.createTempDirectory("graft_bench_rcm")
    try {
      val result = etl.RcmPipeline.run(
        spark, refDir, java.time.LocalDate.parse("2024-12-01"), None)
      etl.RcmPipeline.write(result.star, outDir.toString)
      analytics.RcmAnalytics.q1TotalRevenue(result.star).collect()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(outDir).iterator().asScala.toSeq
        .reverse.foreach(p => p.toFile.delete())
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val refDir = sys.env.getOrElse("SPARK_GRAFT_REF_DIR", "/root/reference")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val quick = args.contains("--quick")
    val spark = Sessions.local(cpus)

    val names = headline.filter(SparkEntry.queries.contains)
      .filterNot(n => quick && quickSkips.contains(n))
    val items: Seq[(String, () => Unit)] =
      names.map { n =>
        n -> (() => { SparkEntry.queries(n)(spark, sfDir).count(); () })
      } ++ (if (!quick && new java.io.File(refDir).isDirectory)
        Seq("rcm_pipeline" -> (() => rcmPipeline(spark, refDir)))
      else Seq.empty)

    // Warm the JVM/codegen against the benchmarked directory (one
    // untimed pass) so measured times reflect the engine, not
    // first-call JIT + planner warmup. A warmup failure is logged, not
    // swallowed — it would otherwise skew only the first timed run and
    // mask a warmup-only regression. The warmup pass also captures
    // each query's normalized PLAN FINGERPRINT ([[PlanFingerprint]]):
    // the artifact's machine-checked "did the plan change" signal,
    // diffed against the committed prior snapshot below.
    val planHashes =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    items.foreach { case (n, fn) =>
      try {
        SparkEntry.queries.get(n) match {
          case Some(q) =>
            val df = q(spark, sfDir)
            try planHashes += n -> PlanFingerprint.hash(df)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] plan hash $n failed: ${e.getMessage}")
            }
            df.count()
          case None => fn()
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
      }
    }
    val priorPlans = readPlanSnapshot(sfDir)
    val planChanges = planHashes.keys.toSeq.sorted
      .filter(n => priorPlans.get(n).exists(_ != planHashes(n)))

    val loadBefore = loadAvg()
    val gcBefore = gcMs()
    val prior = priorMedians(sfDir)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rawRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val deltaGate = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    val results = items.map { case (name, fn) =>
      def timedRun(): Option[Double] = {
        isolate(spark) // blocking release + GC before the start line
        val t0 = System.nanoTime()
        try { fn(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          errors += name -> e.getMessage.takeWhile(_ != '\n').take(200)
          None
        }
      }
      var times = (1 to runsPerQuery).flatMap(_ => timedRun())
      var failed = times.length < runsPerQuery
      // Spread gate: a single contended run shows up as max/min > 3;
      // grant extra runs so the median reflects the quiet majority (the
      // raw list still records the outlier for the auditor). A FAILED
      // extra run flips the query to failed too — it wrote an errors{}
      // entry, and all-or-nothing means never a timing alongside one.
      var extra = 0
      while (!failed && extra < maxExtraRuns &&
          times.min > 0 && times.max / times.min > spreadLimit) {
        timedRun() match {
          case Some(t) => times = times :+ t
          case None    => failed = true
        }
        extra += 1
      }
      // Delta gate: a query whose median regressed >1.5× vs the prior
      // round's artifact gets ONE extra fully-isolated re-run (after a
      // settle pause), recorded in the artifact next to the prior and
      // current medians — so a harness-state regression (storage
      // pressure, GC debt from a neighbor) is distinguishable from a
      // real plan regression without a second bench session. The
      // median itself is NOT replaced: the gate is evidence, not a
      // retry-until-fast loop.
      val medianVal = if (failed) -1.0 else median(times)
      if (!failed) {
        prior.get(name).filter(p => p > 0 && medianVal > p * 1.5).foreach { p =>
          Thread.sleep(500)
          timedRun() match {
            // recorded ONLY in delta_gate{} — never folded into the
            // median, and kept OUT of runs{} so a later round's
            // prior-median recompute from runs{} matches what this
            // round reported. The gate is evidence, never a
            // retry-until-fast, and a failed diagnostic run must not
            // invalidate the three valid timings it annotates — the
            // failure is recorded as isolated = -1 (plus its errors{}
            // entry is withdrawn so queries{} and errors{} stay
            // mutually exclusive).
            case Some(iso) => deltaGate += name -> (p, medianVal, iso)
            case None =>
              errors.remove(name)
              deltaGate += name -> (p, medianVal, -1.0)
          }
        }
      }
      rawRuns += name -> times
      // All-or-nothing: a query that failed ANY of its runs reports the
      // -1 failure marker (plus its errors entry), never a timing — a
      // partial median over fewer runs answers a different question,
      // and a row in both queries{} and errors{} would be ambiguous to
      // the driver.
      if (failed) name -> -1.0 else name -> medianVal
    }
    val loadAfter = loadAvg()
    val gcDelta = gcMs() - gcBefore

    def numArr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    val qJson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsJson = rawRuns.map { case (k, v) => "\"" + k + "\":" + numArr(v) }
      .mkString("{", ",", "}")
    // The headline total stays comparable round-over-round: it sums the
    // sf-scaled q* queries only. Excluded (still in queries{}/runs{}
    // and the delta gate):
    //  - rcm_pipeline: fixed-size reference workload, independent of
    //    SPARK_GRAFT_SF_DIR — folding a constant ~10 s into a ~9 s
    //    scaling total would drown the signal the total exists for.
    //  - q117/q118 streamed gates: their ~14 s medians are almost
    //    entirely fixed streaming machinery (stream startup, four
    //    micro-batches, checkpointing) over a bounded `user_id < 40`
    //    slice that does not scale with sf — the same constant as
    //    rcm_pipeline, same rationale.
    val totalExcludes = Seq(
      "rcm_pipeline", "q117_interval_join_streamed",
      "q118_interval_left_streamed", "q122_streamed_dedup",
      "q124_sessionize_streamed", "q127_stream_static_enriched",
      "q132_dedup_restarted", "q133_sessionize_restarted",
      "q137_running_totals_streamed", "q142_bootstrap_dedup_streamed",
      "q143_bootstrap_dedup_restarted", "q149_kmv_sketch_streamed",
      // q150/q152/q165/q167 run on their GENERATED 500-row planted
      // fixture — fixed size regardless of SPARK_GRAFT_SF_DIR, same
      // rationale; q166/q170 are bounded-slice streamed gates like
      // q149. Every other round-10+ tail query (q153–q164, q168,
      // q169, q171–q180) is sf-scaled and STAYS in the headline total.
      "q150_pq_trained_planted", "q152_ivfpq_planted",
      "q165_hard_negatives", "q166_jsonl_streamed",
      "q167_retrieval_mrr", "q170_topk_streamed")
    val total = results.collect {
      case (k, v) if v >= 0 && !totalExcludes.contains(k) => v }.sum
    def esc(s: String) = s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val deltaJson = deltaGate.map { case (k, (p, m, iso)) =>
      "\"" + k + "\":{\"prior\":" + p + ",\"median\":" + m + ",\"isolated\":" + iso + "}"
    }.mkString("{", ",", "}")
    val excludesJson = totalExcludes.map("\"" + _ + "\"").mkString("[", ",", "]")
    // A run with ANY failed query must not present a headline total that
    // silently omits the failed queries' time (round 7: nine queries
    // errored, value=31.16 looked like a speedup). value=-1 marks the
    // artifact failed; the partial sum stays available, clearly named.
    val failed = errors.nonEmpty
    // snapshot rewrite AFTER the timed runs, and only when every run
    // succeeded — see [[writePlanSnapshot]]
    if (!quick && !failed)
      writePlanSnapshot(sfDir, priorPlans, planHashes.toMap)
    val headlineValue = if (failed) -1.0 else total
    val mode = if (quick) "quick" else "full"
    val planChangesJson =
      planChanges.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$headlineValue,"unit":"sec","mode":"$mode","failed":$failed,"partial_total":$total,"total_excludes":$excludesJson,"queries":$qJson,"errors":$errJson,"runs":$runsJson,"runs_per_query":$runsPerQuery,"stat":"median","delta_gate":$deltaJson,"plan_changes":$planChangesJson,"plans_hashed":${planHashes.size},"loadavg_before":${numArr(loadBefore)},"loadavg_after":${numArr(loadAfter)},"gc_ms":$gcDelta,"sf":"$sfDir"}"""
    writeLocalArtifact(line, quick)
    println(line)
    // The driver keeps only the LAST 2000 chars of stdout and parses a
    // JSON line out of that tail; the full line above is ~8 KB, so for
    // seven rounds the wrapper recorded parsed=null. Emit a compact
    // summary line LAST — small enough to survive the tail plus sbt's
    // trailing "[success]" line — so the driver always gets a parseable
    // record (headline value, failure flag, error map, and a pointer to
    // the complete committed artifact). Error messages are truncated:
    // nine verbose AnalysisExceptions would blow the budget.
    val errCompact = errors.take(8).map { case (k, v) =>
      "\"" + k + "\":\"" + esc(v.take(80)) + "\"" }.mkString("{", ",", "}")
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${if (failed) "-1.0" else fmt(total)},"unit":"sec","failed":$failed,"partial_total":${fmt(total)},"n_queries":${results.size},"n_errors":${errors.size},"errors":$errCompact,"slowest":$slowest,"stat":"median","gc_ms":$gcDelta,"plan_changes":${planChanges.size},"full_artifact":"${if (quick) "bench/local_quick.json" else s"bench/local_r$currentRound.json"}","mode":"$mode","sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
