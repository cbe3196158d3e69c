package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design (100 TB):
  *  - [[bruteForceTopK]] is the exactness baseline: a broadcast of the
  *    (small) query set against the full corpus — one corpus scan, no
  *    corpus shuffle. The `row_number <= k` rank filter is written in
  *    the exact shape Catalyst's `InferWindowGroupLimit` rule
  *    recognizes, so the physical plan inserts a map-side
  *    `WindowGroupLimit(Partial)` BELOW the exchange: each corpus
  *    partition emits at most k rows per query, and the final
  *    per-query merge ranks only k·P candidates instead of the whole
  *    scored product. PlanSpec pins this shape (a regression to a
  *    full-shuffle rank is a test failure). Requires
  *    k <= `spark.sql.window.group.limit.threshold` (default 1000) —
  *    raise the conf before raising k past it.
  *  - [[bucketedTopK]] is the IVF-style scale path: a coarse quantizer
  *    (here: any bucket column — a cluster id, an LSH bucket, a label)
  *    restricts each query to its bucket's inverted list, turning the
  *    N×M product into Σ bucket-local products. At 100 TB the bucket
  *    column is the partition key, so a probe touches one partition.
  *
  * All arithmetic is double-precision with a fixed left-to-right fold,
  * matching DuckDB's `list_inner_product` exactly — verified value-
  * identical cross-engine in the oracle gate.
  */
object Similarity {

  /** Elementwise double dot product as a strict sequential fold —
    * native codegen'd kernel ([[graft.plans.DotProduct]]); the
    * higher-order-function composition it is value-identical to lives
    * in [[dotComposed]] (pinned equal by DotProductSpec). */
  def dot(a: Column, b: Column): Column = graft.plans.DotProduct(a, b)

  /** Built-in-composition form of [[dot]] (reference semantics; HOFs
    * are interpreted, so this is the slow path). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Null-safe cosine: a zero-norm vector yields NULL, not NaN.
    * NaN would sort ABOVE every real similarity under `desc` and pass
    * `> threshold` filters (Spark NaN semantics), making a zero vector
    * the rank-1 "neighbor" of everything; NULL drops out of both. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom > 0, dot(a, b) / denom)
  }

  /** Pairwise cosine from a precomputed per-vector norm: the pair
    * product dominates these operators, so norms are computed once per
    * VECTOR before the join (column references survive the join — no
    * re-inlining), not once per pair. Values are identical to
    * [[cosine]] — same per-pair arithmetic. */
  private def pairCosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, dot(va, vb) / (na * nb))

  /** Exact top-k cosine neighbors of each query vector over the whole
    * corpus. `queries` must be broadcast-sized (it is sent to every
    * corpus partition); the corpus side never shuffles. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k, col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** HARD-NEGATIVE MINING for contrastive training: per query, the
    * `k` most cosine-similar vectors whose `labelCol` DIFFERS from
    * the query's — the near-misses a contrastive loss learns the
    * most from (an easy random negative contributes ~zero gradient;
    * the highest-similarity non-positive defines the margin). The
    * label is whatever positive-set notion the trainer has: the
    * planted cluster, a near-dup component id, a source/domain key.
    *
    * Plan = [[bruteForceTopK]] with the label-mismatch predicate
    * fused into the scoring join: queries (with their labels)
    * broadcast, one corpus-linear scoring pass, the same-label rows
    * drop BEFORE ranking, and the top-k is the map-side
    * `InferWindowGroupLimit` shape of [[rankTopK]]. At corpus scale
    * the brute pass swaps for the IVF/LSH candidate generators like
    * every other top-k here — the exclusion predicate and ranking
    * are unchanged. Returns `(query_id, rank, neighbor_id, cosine)`
    * — every neighbor guaranteed label-mismatched by construction. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      labelCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("__ql") =!= col("__cl"))
      .withColumn("cosine", pairCosine(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k, col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** `row_number() <= k` in the canonical shape for Catalyst's
    * `InferWindowGroupLimit`: the filter compares the raw (int) rank
    * against a literal, with the widening cast applied only AFTER the
    * filter — so the rule fires without relying on cast-unwrapping and
    * the plan gets a map-side partial group-limit below the exchange. */
  private def rankTopK(scored: DataFrame, k: Int, outCols: Column*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("rank", col("rank").cast("long"))
      .select(outCols: _*)
  }

  /** IVF-style bucketed top-k: each query searches only its own
    * bucket's inverted list. */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, bucketCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"), col(bucketCol))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"), col(bucketCol))
    val scored = c.join(broadcast(q), Seq(bucketCol))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k,
      col(bucketCol), col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** One broadcast row holding the K centroids as
    * array<struct<cid, cvec, cnorm>> — the shared build for
    * [[ivfAssign]] and [[ivfTopK]]. */
  private def centArray(centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    centroids.select(collect_list(struct(
      col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"),
      l2Norm(col(vecCol)).as("cnorm"))).as("__cents"))

  /** Per-centroid scores as array<struct<negcos, cid>>: ascending
    * struct order == (cosine desc, cid asc) — the shared tie rule.
    * ONE dot product per centroid. A zero-norm vector or centroid
    * scores +∞ (sorts last, never wins/probed while a real score
    * exists) instead of dividing by zero — ANSI mode would otherwise
    * kill the query on an all-zeros vector. */
  private def negCosCents(vec: Column, vn: Column): Column =
    transform(col("__cents"), c =>
      struct(
        when(vn * c.getField("cnorm") > 0,
          lit(0.0) - dot(vec, c.getField("cvec")) / (vn * c.getField("cnorm")))
          .otherwise(lit(Double.PositiveInfinity)).as("negcos"),
        c.getField("cid").as("cid")))

  /** IVF coarse quantization: assign every corpus vector to its
    * nearest (max-cosine) centroid, ties to the lower centroid id.
    *
    * ZERO-SHUFFLE by construction: the K centroids are collected into
    * one broadcast array row and the argmax is `array_min` over the
    * per-row score array — no crossJoin row explosion, no window, no
    * groupBy, one dot product per (row, centroid) per evaluation.
    * At 100 TB this is the map-side pass that builds the inverted
    * lists; write the output partitioned by `centroid_id` and
    * [[ivfTopK]] probes become partition-local scans.
    *
    * A zero-norm vector assigns to centroid_id -1 (no valid cosine). */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val best = array_min(negCosCents(col(vecCol), l2Norm(col(vecCol))))
    corpus.crossJoin(broadcast(centArray(centroids, idCol, vecCol)))
      .withColumn("centroid_id",
        when(best.getField("negcos") =!= Double.PositiveInfinity, best.getField("cid"))
          .otherwise(lit(-1L)))
      .withColumn("centroid_cosine",
        when(best.getField("negcos") =!= Double.PositiveInfinity,
          lit(0.0) - best.getField("negcos")))
      .drop("__cents")
  }

  /** IVF multi-probe top-k: corpus vectors live in their [[ivfAssign]]
    * bucket; each query probes its `nProbe` nearest centroids' inverted
    * lists and ranks only those candidates. Buckets partition the
    * corpus (argmax is unique), so probe candidate sets are disjoint —
    * no dedup pass. The rank filter keeps the map-side
    * `WindowGroupLimit(Partial)` shape (see [[bruteForceTopK]]). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        l2Norm(col(vecCol)).as("cn"), col("centroid_id"))
    val qn = l2Norm(col(vecCol))
    // ascending (negcos, cid) == (cos desc, cid asc): the same
    // zero-norm-guarded scoring and tie rule as ivfAssign, extended to
    // the top nProbe
    val scoredCents = negCosCents(col(vecCol), qn)
    val probes = queries
      .crossJoin(broadcast(centArray(centroids, idCol, vecCol)))
      .withColumn("__probe", explode(slice(array_sort(scoredCents), 1, nProbe)))
      .filter(col("__probe.negcos") =!= Double.PositiveInfinity)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        qn.as("qn"), col("__probe.cid").as("centroid_id"))
    val scored = assigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k, col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** One Lloyd iteration of k-means: assign every corpus vector to its
    * nearest centroid ([[ivfAssign]] — zero-shuffle broadcast argmax),
    * then recompute each centroid as the elementwise mean of its
    * members. Chain the output back in as the next `centroids` frame
    * to train the IVF coarse quantizer ([[kmeans]] does the looping).
    *
    * The mean is accumulated in FIXED-POINT: each component is scaled
    * by 2^`fracBits`, floored to a long, and summed as DECIMAL(38,0) —
    * exact, overflow-free into the billions of members per cluster,
    * and ORDER-INDEPENDENT, unlike a double sum, whose value shifts
    * with partitioning and merge order. On a 1000-executor cluster
    * that buys bit-reproducible centroids run-over-run (and against
    * any other engine) while keeping the sum a plain mergeable partial
    * aggregate — no sorted collect, no single reducer. Quantization
    * error is at most 2^-fracBits per component per member (~1e-13 at
    * the default 43 — far below float input precision).
    *
    * Returns one row per (centroid_id, dim): `n_members` and the new
    * component `mean` (sum / 2^fracBits / n, doubles). Unassignable
    * vectors (zero norm → centroid_id -1) are excluded. Reassemble to
    * vectors with [[assembleCentroids]]. */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, fracBits: Int = 43): DataFrame = {
    require(fracBits > 0 && fracBits < 63, s"need 0 < fracBits < 63, got $fracBits")
    val scale = math.pow(2.0, fracBits) // exact power of two
    ivfAssign(corpus, centroids, idCol, vecCol)
      .filter(col("centroid_id") >= 0)
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("centroid_id"), col("dim"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(floor(col("v").cast("double") * scale).cast("decimal(38,0)")).as("__q"))
      .select(col("centroid_id"), col("dim").cast("long").as("dim"),
        col("n_members"),
        (col("__q").cast("double") / scale / col("n_members")).as("mean"))
  }

  /** (centroid_id, dim, mean) rows → (centroid_id, n_members, vector)
    * with components in dim order — the frame [[kmeansStep]] feeds
    * back into [[ivfAssign]]. */
  def assembleCentroids(step: DataFrame): DataFrame =
    step.groupBy(col("centroid_id"))
      .agg(
        max(col("n_members")).as("n_members"),
        transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
          s => s.getField("mean")).as("vector"))

  /** Lloyd's algorithm: `iters` rounds of [[kmeansStep]] from the given
    * seed centroids (deterministic — seed selection is the caller's
    * policy, e.g. the k lowest ids). Clusters that lose all members
    * keep their previous centroid. Each round materializes one K×dim
    * centroid frame on the driver side of a broadcast — K·dim doubles,
    * trivially small next to the corpus, which is scanned once per
    * round with no shuffle beyond the (centroid, dim) partial agg. */
  def kmeans(corpus: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String, iters: Int, fracBits: Int = 43): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    (1 to iters).foldLeft(seeds.select(col(idCol).cast("long").as("centroid_id"),
        col(vecCol).as("__vec"))) { (cents, _) =>
      val next = assembleCentroids(kmeansStep(
          corpus, cents.select(col("centroid_id").as(idCol), col("__vec").as(vecCol)),
          idCol, vecCol, fracBits))
        .select(col("centroid_id"), col("vector").as("__next"))
      // empty clusters keep their previous centroid
      val updated = cents.join(next, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("__next"), col("__vec")).as("__vec"))
        .transform(Checkpoints.pin) // bound the per-round plan growth
      // the eager checkpoint materialized `updated` — the superseded
      // round's blocks are dead now; release them so a long training
      // run pins O(1) centroid frames, not O(iters). (The seed frame
      // has no checkpoint — round 1's release is a no-op.) The FINAL
      // round's checkpoint ships with the returned frame.
      Checkpoints.releasePinned(cents)
      updated
    }.select(col("centroid_id"), col("__vec").as(vecCol))
  }

  /** SSL-prototype data pruning over an embedding column (Sorscher et
    * al., "Beyond neural scaling laws", and the SemDeDup family):
    * assign every vector to its nearest seed centroid ([[ivfAssign]]'s
    * cosine argmax), rank members within each cluster by
    * prototypicality (cosine to the centroid), and KEEP the
    * per-cluster `keepFrac` fraction of LEAST prototypical examples —
    * the hard, diverse tail that drives training signal; the
    * redundant near-prototype mass is what gets pruned.
    *
    * Exact rank semantics (`row_number` over (cosine asc, id asc),
    * keep `rank <= ceil(keepFrac·n)`) — deterministic and
    * oracle-replayable. Scale: the assignment is the [[ivfAssign]]
    * map-side pass (K centroids broadcast, no corpus shuffle); the
    * rank costs ONE shuffle on `centroid_id`. In practice K grows
    * with the corpus (SemDeDup uses ~10^5 clusters at web scale), so
    * cluster partitions stay ~corpus/K-sized; for degenerate giant
    * clusters swap the exact rank for a [[Sampling.groupQuantileDisc]]
    * threshold cut — same keep policy, percentile-approximate.
    * Zero-norm vectors (no valid cosine) are excluded, as in
    * [[kmeansStep]].
    *
    * Returns the KEPT rows: corpus columns + `centroid_id`,
    * `centroid_cosine`, `proto_rank` (1 = least prototypical),
    * `n_members`. */
  def prototypePrune(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"need 0 < keepFrac <= 1, got $keepFrac")
    val byCluster = Window.partitionBy(col("centroid_id"))
    ivfAssign(corpus, centroids, idCol, vecCol)
      .filter(col("centroid_id") >= 0)
      .withColumn("proto_rank", row_number()
        .over(byCluster.orderBy(col("centroid_cosine").asc, col(idCol).asc))
        .cast("long"))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("proto_rank") <= ceil(lit(keepFrac) * col("n_members")))
  }

  /** Embedding-cosine near-duplicate pairs within a bucket (the
    * embedding analog of [[Dedup.ngramJaccardPairs]]). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      l2Norm(col(vecCol)).as("na"), col(bucketCol))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"), col(bucketCol))
    a.join(b, Seq(bucketCol)).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", pairCosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") > threshold)
      .select(col(bucketCol), col("id_a"), col("id_b"), col("cosine"))
  }

  /** Semantic dedup over embeddings (the SemDeDup recipe, Abbas et
    * al. 2023, arXiv:2303.09540): cluster the corpus by nearest
    * centroid, compare vectors ONLY within a cluster, and drop the
    * larger id of every pair whose cosine exceeds `threshold`.
    * Returns one row per corpus vector:
    * `(id, centroid_id, dropped)` — survivors are `dropped = false`.
    *
    * Composition of two existing primitives: [[ivfAssign]] (zero-
    * shuffle broadcast-argmax bucketing) feeds
    * [[cosineNearDupPairs]] (bucket-bounded pair verification), so
    * the only corpus-sized shuffles are the pair join's partition on
    * `centroid_id` and the final survivor join on the id.
    *
    * Scale (100 TB): within-cluster pairing costs Σ|cluster|² — the
    * SemDeDup design point is choosing k ∝ corpus size so the mean
    * cluster stays constant-sized and the total stays linear. The
    * failure mode is cluster-size skew — at corpus scale a single
    * viral-content cluster is the rule, not the edge case — so
    * `maxClusterSize` bounds it IN-PLAN: any cluster larger than the
    * cap is deterministically re-split into ⌈size/cap⌉ hash
    * sub-clusters (hash60 of the id — reproducible across runs and
    * engines) and pairs are compared only within a (cluster, sub)
    * cell, so no cell's pair count exceeds ~cap² in expectation
    * however hot the cluster. The RECALL TRADE is explicit: a
    * near-dup pair inside a hot cluster is compared only when both
    * ends hash to the same sub-cluster — probability 1/subs — so a
    * capped run drops a SUBSET of the uncapped run's verdicts
    * (pinned in Round9OpsSpec); recover recall hierarchically by
    * re-running on the capped survivors, whose hot clusters have
    * already shrunk. The default (no cap) keeps the exact SemDeDup
    * semantics for oracle-gated runs; at 100 TB always set a cap —
    * a quadratic stage that fails loudly beats one that runs
    * silently for a day. */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, threshold: Double,
      maxClusterSize: Int = Int.MaxValue): DataFrame = {
    require(maxClusterSize > 0, s"need maxClusterSize > 0, got $maxClusterSize")
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("centroid_id"))
    val (bucketed, bucketCol) =
      if (maxClusterSize == Int.MaxValue) (assigned, "centroid_id")
      else {
        // One count per cluster via a window on the SAME key the pair
        // join shuffles on; subs = ceil(size/cap) so an under-cap
        // cluster keeps exactly one cell (sub 0 for everyone — the
        // uncapped pairing, unchanged).
        val csize = count(lit(1)).over(Window.partitionBy(col("centroid_id")))
        val subs = ceil(csize.cast("double") / maxClusterSize).cast("long")
        (assigned.withColumn("__semd_bucket", concat_ws("_",
          col("centroid_id"),
          pmod(TextFunctions.hash60(col(idCol).cast("string")), subs))),
          "__semd_bucket")
      }
    val dropped = cosineNearDupPairs(
        bucketed, idCol, vecCol, bucketCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        coalesce(col("__dropped"), lit(false)).as("dropped"))
  }

  /** Brute-force top-k over SYMMETRICALLY int8-quantized vectors — the
    * memory-bandwidth ANN lever ([[Quantize]]: a float32 store is 4×
    * the bytes of int8 + one scale). Both sides quantize with the
    * absmax rule and rank by the cosine of the QUANTIZED vectors;
    * per-vector scales cancel in cosine, so the score needs no float
    * reconstruction at all — the int8 arrays are the only corpus
    * bytes the scan touches.
    *
    * Cross-engine exactness: quantized components are integers in
    * [−127, 127]; their products and ≤4096-term sums stay well inside
    * double's exact-integer range, and the [[dot]] kernel folds
    * left-to-right like DuckDB's `list_inner_product` — so the
    * approximate-cosine VALUES (not just ranks) hash-match an oracle.
    * Ranking quality vs the float baseline is gated separately with
    * an in-plan recall floor (q136), the q110 discipline.
    *
    * Scale shape = [[bruteForceTopK]]: queries broadcast, corpus
    * never shuffles, map-side WindowGroupLimit below the exchange. */
  def int8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, outId: String, qCol: String, nCol: String) =
      Quantize.int8AbsMax(df, vecCol).select(
        col(idCol).as(outId),
        transform(col("q"), x => x.cast("double")).as(qCol))
        .withColumn(nCol, l2Norm(col(qCol)))
    val q = prep(queries, "query_id", "qv", "qn")
    val c = prep(corpus, "neighbor_id", "cv", "cn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k, col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  // ---- random-hyperplane (sign-projection) LSH ---------------------

  /** Driver-side twin of [[graft.operators.TextFunctions.hash60]] for
    * PLAN-TIME constants — delegates to the native kernel's static
    * function ([[graft.plans.Md5Hash60.hash]], pinned value-identical
    * to the hex-string form by Md5Hash60Spec) so the 60-bit slicing
    * rule exists in exactly one place. The hyperplane coefficients
    * below derive from it, so any engine can regenerate the exact same
    * planes from its own `md5` (the oracle does, in SQL) — the
    * "randomness" is a pure function of the plane and dimension
    * indices, never an RNG state. */
  private[graft] def hash60Const(s: String): Long =
    graft.plans.Md5Hash60.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))

  /** ±1 coefficients of hyperplane `p` over `dim` dimensions:
    * +1 iff hash60("rp:p:i") is even. Rademacher planes are as good as
    * Gaussian ones for sign-LSH and keep the projection exact-integer
    * friendly and trivially reproducible cross-engine. */
  private def planeCoefs(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(i => if (hash60Const(s"rp:$p:$i") % 2 == 0) 1.0 else -1.0)

  /** Sign-random-projection (SimHash-for-vectors) signatures: explodes
    * each row into `tables` rows carrying (`rp_table`, `rp_bucket`),
    * where the bucket is a `bits`-bit signature — bit j set iff the
    * dot with plane `table·bits + j` is positive.
    *
    * Scale notes: the planes are plan-time LITERALS (broadcast with
    * the task binary, ~tables·bits·dim doubles); the `tables·bits`
    * dots per row run in the native [[graft.plans.DotProduct]] kernel,
    * so signatures are one codegen'd map-side pass — no shuffle until
    * a caller groups on the bucket. Cosine-similar vectors collide
    * per-bit with probability 1 − θ/π (Goemans–Williamson), so recall
    * is tuned by (bits, tables) without ever forming all pairs. */
  def rpSignatures(df: DataFrame, vecCol: String, dim: Int, bits: Int,
      tables: Int): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1,62], got $bits")
    require(tables >= 1, s"tables must be positive, got $tables")
    require(!df.columns.contains("rp_table") && !df.columns.contains("rp_bucket"),
      "input already defines rp_table/rp_bucket")
    val sigs = (0 until tables).map { t =>
      val bucket = (0 until bits).map { j =>
        val p = t * bits + j
        when(dot(col(vecCol), lit(planeCoefs(p, dim))) > 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("rp_table"), bucket.as("rp_bucket"))
    }
    df.withColumn("__rp", explode(array(sigs: _*)))
      .withColumn("rp_table", col("__rp.rp_table"))
      .withColumn("rp_bucket", col("__rp.rp_bucket"))
      .drop("__rp")
  }

  /** Derived RP-LSH bit budget for a corpus of `n` vectors: the
    * scaladoc rule "bits ∝ log corpus" made concrete — enough bits
    * that the UNIFORM expected cell holds ~2 vectors,
    * `⌈log₂(n/2)⌉`, clamped to [8, 24]. Rationale: candidate volume
    * is Σ|cell|² per table; at ~2/cell it is ~2n per table (linear),
    * while each halving of bits doubles it. The constant q131
    * measured against the degenerate 500k-doc case IS this rule's
    * output at that scale (derivedRpBits(500000) = 18, pinned);
    * recall lost to finer cells is recovered via `tables`, not
    * coarser buckets. Pure — callers probe the count. */
  def derivedRpBits(n: Long): Int = {
    val target = math.max(n, 2L) / 2.0
    val bits = math.ceil(math.log(target) / math.log(2.0)).toInt
    math.min(24, math.max(8, bits))
  }

  /** Near-duplicate pairs by sign-projection LSH: candidates are pairs
    * sharing ANY table's bucket (banding, like the MinHash LSH in
    * [[Dedup]] but for cosine space); each candidate is verified by
    * exact cosine and kept above `threshold`. The multi-table dedup is
    * a `distinct()` AFTER verification — the cosine of a duplicate
    * candidate is computed from the same columns, so the row is
    * byte-identical and collapses exactly.
    *
    * At 100 TB: signatures are map-side (see [[rpSignatures]]); the
    * bucket self-join shuffles on (table, bucket) — never all pairs;
    * norms are computed once per vector before the join.
    *
    * Hot-cell guard: the named degenerate case (SCALE.md round 9) is
    * an under-provisioned bit budget concentrating a fraction of the
    * corpus in ONE cell — dim 8 / 10 bits put ~10% of a 50k corpus in
    * a single bucket, 218M candidate pairs, and the quadratic stage
    * runs SILENTLY. The cell population is counted on the same
    * (table, bucket) key the join shuffles on, and an oversized cell
    * either fails the job loudly with the cell coordinates in the
    * message (the remedy is more bits: bits ∝ log corpus, recall
    * recovered via more tables), or with `dropHotCells=true` is
    * excluded from candidate generation — an explicit recall trade
    * (a pair is lost only if NO other table catches it; hot cells
    * are typically the stopword-cloud center where near-dup
    * candidates are least likely to be genuine).
    *
    * `maxCellSize` semantics — guarded BY DEFAULT (round-10 flip; a
    * 100 TB operator's safe default is fail-loud, not run-silent):
    *  - < 0 (default): the cap is DERIVED from the data —
    *    max(4096, 64 × ⌈n/2^bits⌉), 64× the uniform expectation; a
    *    cell that hot is under-bitting, not luck. Costs one count of
    *    the (barriered) signature frame.
    *  - > 0: explicit cap.
    *  - = 0: the explicit UNGUARDED opt-out — no sizes aggregate, no
    *    barrier; the gated q131 plan shape, whose parameters were
    *    measured against the degenerate case.
    * When guarded, the signature frame is localCheckpoint'd before
    * the sizes aggregate: it feeds both the aggregate and the join,
    * and without the barrier signatures + the corpus scan run twice
    * per guarded call (the q141 multi-consumer re-scan). The caller
    * owns the checkpoint's release once the result is consumed.
    *
    * `bits = 0` DERIVES the bit budget from a count probe of the
    * (barriered) input — [[derivedRpBits]], the
    * `contiguousShards(buckets = 0)` discipline: the constant that is
    * right at gate scale under-bits a 100 TB corpus into quadratic
    * cells, so production passes 0 and lets the rule track the
    * corpus. Value-identical to passing `derivedRpBits(n)` explicitly
    * (pinned in Round10Spec). */
  def rpLshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, tables: Int, threshold: Double,
      maxCellSize: Int = -1, dropHotCells: Boolean = false): DataFrame = {
    require(bits >= 0, s"bits must be >= 0 (0 = derive from corpus count), got $bits")
    val base0 = df.select(col(idCol), col(vecCol),
      l2Norm(col(vecCol)).as("__n"))
    val (base, nBits) =
      if (bits > 0) (base0, bits)
      else {
        val pinned = Checkpoints.pin(base0) // probe + signatures: one scan
        (pinned, derivedRpBits(pinned.count()))
      }
    val sig0 = rpSignatures(base, vecCol, dim, nBits, tables)
    val sig =
      if (maxCellSize == 0) sig0
      else {
        val pinned = Checkpoints.pin(sig0)
        val cap =
          if (maxCellSize > 0) maxCellSize.toLong
          else {
            val n = pinned.count() / tables // pinned rows = n·tables
            math.max(4096L, 64L * ((n + (1L << nBits) - 1) >> nBits))
          }
        val sizes = pinned.groupBy(col("rp_table"), col("rp_bucket"))
          .agg(count(lit(1)).as("__cell_n"))
        val guarded = pinned.join(sizes, Seq("rp_table", "rp_bucket"))
        if (dropHotCells)
          guarded.filter(col("__cell_n") <= cap).drop("__cell_n")
        else
          // The raise_error rides the FILTER condition, so it cannot
          // be pruned as unused and fires during the join's own scan.
          guarded.filter(
            when(col("__cell_n") > cap,
              raise_error(concat(
                lit("rpLshNearDupPairs hot cell: table="),
                col("rp_table").cast("string"),
                lit(" bucket="), col("rp_bucket").cast("string"),
                lit(" size="), col("__cell_n").cast("string"),
                lit(s" > maxCellSize=$cap — raise bits " +
                  "(bits ∝ log corpus) or set dropHotCells=true"))).isNotNull)
              .otherwise(lit(true)))
            .drop("__cell_n")
      }
    val a = sig.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("__n").as("na"), col("rp_table"), col("rp_bucket"))
    val b = sig.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("__n").as("nb"), col("rp_table"), col("rp_bucket"))
    a.join(b, Seq("rp_table", "rp_bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", pairCosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") > threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
  }

  /** LSH-FRONTED top-k retrieval: sign-projection candidate
    * generation in front of the exact-cosine verify — the scale path
    * for [[bruteForceTopK]]'s corpus-linear scoring pass when BOTH
    * sides grow (the q160/q164 passage-retrieval build measured 8.0×
    * at 10× data with brute candidates; this replaces the
    * corpus×queries product with a bucket join).
    *
    * Mechanics: corpus AND queries are signed with the SAME
    * md5-derived hyperplanes ([[rpSignatures]] — regenerable in any
    * engine); a candidate is any (query, corpus) pair sharing ANY
    * table's bucket; candidates are verified by exact cosine, deduped
    * across tables by `distinct()` on (query, neighbor, cosine)
    * (byte-identical rows — the [[rpLshNearDupPairs]] discipline),
    * and ranked per query with the map-side
    * `WindowGroupLimit(Partial)` shape of [[rankTopK]].
    *
    * Scale shape: query signatures broadcast (queries × tables rows);
    * the corpus side is ONE map-side signing pass into a broadcast
    * hash join — the corpus never shuffles; the only exchanges are
    * candidate-sized (dedup + rank). No corpus×queries product
    * anywhere (PlanSpec pins no cartesian/nested-loop join and the
    * bucket-keyed probe).
    *
    * The RECALL trade is the caller's to gate: a true neighbor is
    * found only if it collides with the query in ≥ 1 table
    * (per-table probability (1 − θ/π)^bits — tune recall with
    * `tables`, candidate volume with `bits`); q172 gates this
    * composition with an in-plan mean-recall floor vs the in-query
    * brute force. Queries must be broadcast-sized, as in
    * [[bruteForceTopK]]; zero-norm vectors should be filtered
    * upstream (their cosine is NULL and the two engines order nulls
    * differently). Returns `(query_id, rank, neighbor_id, cosine)`. */
  def rpLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, bits: Int, tables: Int, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val c0 = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val cs = rpSignatures(c0, "cv", dim, bits, tables)
    val qs = rpSignatures(q0, "qv", dim, bits, tables)
    val scored = cs.join(broadcast(qs), Seq("rp_table", "rp_bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine(col("qv"), col("cv"), col("qn"), col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .distinct()
    rankTopK(scored, k, col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking: greedily pick `k`
    * candidates per query, each step's score
    * `λ·rel − (1−λ)·max_{s∈selected} sim(c, s)` trading relevance
    * against redundancy with what is already picked — the diversity
    * pass a RAG retriever runs AFTER top-N similarity (N near-dup
    * passages about one aspect crowd out every other aspect; MMR
    * keeps one of each). The empty-selected max is 0, so pick 1 is
    * the pure-relevance argmax under the same formula.
    *
    * `cands` carries one row per (query, candidate):
    * `queryCol, idCol, relCol, vecCol` (the candidate's embedding —
    * pairwise sims are computed HERE, cosine). Scale shape: MMR runs
    * on top-N frames (N per query is tens), so every stage is
    * candidate-sized — the per-query self-join is N² rows, the k
    * greedy steps are k unrolled join+window stages over those
    * frames, and the corpus never appears; `cands` and the sim frame
    * are localCheckpoint'd once (they feed every step) and RELEASED
    * on return, as is each superseded greedy step's checkpoint — a
    * long-lived session pins only the returned selection frame per
    * call. The greedy loop is inherently sequential in k — at fixed
    * small k (5–20) that is k candidate-sized stages, not a scaling
    * hazard.
    *
    * Determinism: rel and sims are cosines (engine-identical
    * doubles), λ must be binary-exact (default 1/2), ties break on
    * the candidate id — the whole greedy trajectory is
    * bit-reproducible (oracle-gated, q164). Returns
    * `(queryCol, pick_rank, idCol, rel, mmr)`. */
  def mmrRerank(cands: DataFrame, queryCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int,
      lam: Double = 0.5): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"need k >= 1, got $k")
    require(lam >= 0 && lam <= 1, s"need 0 <= lambda <= 1, got $lam")
    val base = cands.select(col(queryCol), col(idCol), col(relCol),
        col(vecCol), l2Norm(col(vecCol)).as("__n"))
      .transform(Checkpoints.pin) // feeds the sim self-join and every step
    val a = base.select(col(queryCol), col(idCol).as("__cid_a"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = base.select(col(queryCol), col(idCol).as("__cid_b"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    val sims = a.join(b, Seq(queryCol))
      .filter(col("__cid_a") =!= col("__cid_b"))
      .select(col(queryCol), col("__cid_a"), col("__cid_b"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("__sim"))
      .transform(Checkpoints.pin)
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("__mmr").desc, col(idCol))
    val empty = base.select(col(queryCol), col(idCol), col(relCol),
        lit(0.0).as("mmr"), lit(0).as("pick_rank")).limit(0)
    val selected = (1 to k).foldLeft(empty) { (sel, t) =>
      val remaining = base.join(
        sel.select(col(queryCol), col(idCol)), Seq(queryCol, idCol), "left_anti")
      val maxSim = sims
        .join(sel.select(col(queryCol), col(idCol).as("__cid_b")),
          Seq(queryCol, "__cid_b"))
        .groupBy(col(queryCol), col("__cid_a"))
        .agg(max(col("__sim")).as("__ms"))
      val pick = remaining
        .join(maxSim.withColumnRenamed(queryCol, "__q"),
          col(queryCol) === col("__q") && col(idCol) === col("__cid_a"), "left")
        .drop("__q", "__cid_a")
        .withColumn("__mmr",
          lit(lam) * col(relCol) - lit(1.0 - lam) * coalesce(col("__ms"), lit(0.0)))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col(queryCol), col(idCol), col(relCol),
          col("__mmr").as("mmr"), lit(t).as("pick_rank"))
      // selected stays tiny (t rows/query); the checkpoint keeps the
      // k-step plan linear instead of doubling per step (sel feeds
      // both the anti join and the max-sim join)
      val next = sel.unionByName(pick).transform(Checkpoints.pin)
      // the superseded step's checkpoint is dead once `next` is
      // materialized — release it so a long-lived session pins O(1)
      // selection frames, not O(k) per call (the bpeTrainCore
      // pattern). Step 1's `sel` is `empty`, whose plan reaches the
      // still-live base checkpoint — skip it.
      if (t > 1) Checkpoints.releasePinned(sel)
      next
    }
    // `selected` is itself checkpointed, so the scope releases the
    // consumed base and sims
    selected.select(col(queryCol), col("pick_rank"), col(idCol),
      col(relCol), col("mmr"))
  }

  /** The SERVING retrieval chain: [[rpLshTopK]] candidate generation
    * (top `topN` per query by exact cosine over LSH-bucket
    * candidates) re-ranked by [[mmrRerank]] diversity — LSH front,
    * MMR back, the composition a production RAG retriever actually
    * runs. No corpus×queries product anywhere: the corpus is signed
    * map-side into a broadcast bucket join (never shuffles,
    * [[rpLshTopK]]'s shape, PlanSpec-pinned on this composition), the
    * embedding join-back for MMR's pairwise sims is candidate-keyed,
    * and every MMR stage is candidate-sized.
    *
    * `meanRecallFloor` > 0 adds the q172 evaluation gate CARRIED
    * THROUGH the composition: the brute-force top-`topN` is computed
    * alongside and the mean per-query recall of the LSH candidate set
    * is asserted in-plan ≥ the floor (the assert fuses into the
    * returned selection — a silent recall collapse fails the query,
    * not just a dashboard). The brute compare is corpus×queries by
    * definition — eval mode only; serving passes 0 and gates recall
    * offline (oracle-gated, q193).
    *
    * Checkpoint lifecycle: the candidate frame is pinned once (it
    * feeds the MMR build and the optional recall gate); the scope
    * releases every intermediate pin ([[Checkpoints]]). Returns
    * `(query_id, pick_rank, neighbor_id, rel, mmr)`. */
  def rpLshMmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, bits: Int, tables: Int, topN: Int, k: Int,
      lam: Double = 0.5, meanRecallFloor: Double = 0.0): DataFrame = Checkpoints.scoped {
    require(topN >= k, s"need topN >= k, got topN=$topN k=$k")
    val cands = rpLshTopK(corpus, queries, idCol, vecCol, dim, bits, tables, topN)
      .transform(Checkpoints.pin) // feeds the MMR build AND the recall gate
    val emb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__emb"))
    val withVec = cands.join(emb, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").as("rel"), col("__emb"))
    // mmrRerank materializes its selection internally, so `cands` is
    // consumed on the MMR side as soon as this returns
    val sel = mmrRerank(withVec, "query_id", "neighbor_id", "rel", "__emb",
      k, lam)
    if (meanRecallFloor <= 0) sel
    else {
      val brute = bruteForceTopK(corpus, queries, idCol, vecCol, topN)
        .select(col("query_id"), col("neighbor_id"))
      val per = brute.join(
          cands.select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("__nh"))
        .transform(Checkpoints.pin) // consumes cands on the gate side
      val mean = per.agg(
        (sum(col("__nh")).cast("double") /
          (count(lit(1)) * topN)).as("__mean"))
      sel.crossJoin(broadcast(mean))
        .filter(assert_true(col("__mean") >= meanRecallFloor,
          concat(lit(s"LSH→MMR mean candidate recall@$topN below floor " +
            s"$meanRecallFloor: "), col("__mean").cast("string"))).isNull)
        .select(sel.columns.map(col): _*)
        .transform(Checkpoints.pin)
    }
  }

  // ------------------------------------------ product quantization

  /** Per-subspace slices of `vecCol` as a long-format frame: one row
    * per (row, sub) with the `dim/m`-wide subvector. Shared by the
    * codebook, coding, and query-table builders below. */
  private def subSlices(df: DataFrame, idCol: String, outId: String,
      vecCol: String, dim: Int, m: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val subs = array((0 until m).map(s0 => struct(lit(s0).as("sub"),
      slice(col(vecCol), s0 * subDim + 1, subDim).as("sv"))): _*)
    df.select(col(idCol).cast("long").as(outId), explode(subs).as("x"))
      .select(col(outId), col("x.sub").as("sub"), col("x.sv").as("sv"))
  }

  /** Squared L2 distance via inner products — the three-dot form
    * keeps every fold a sequential [[dot]] pass, the arrangement
    * proven order-aligned with DuckDB's `list_inner_product` (q67). */
  private def sqDist(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Derived PQ geometry for a `dim`-dimensional corpus of `n`
    * vectors: `(m, centroids)` — the gate constants generalized into
    * corpus-tracking rules (`contiguousShards(buckets = 0)`
    * discipline):
    *  - `m` targets 16-wide subspaces (the widest of 16/8/4/2/1 that
    *    divides `dim`) — fewer, wider subspaces quantize coarser but
    *    keep the ADC table and the per-vector code small; dim 64 → 4,
    *    the q146/q148 constant;
    *  - `centroids` follows the k-means training-density rule of
    *    thumb (≥ ~39 training points per centroid, the FAISS
    *    guidance): the largest power of two ≤ n/39, clamped to
    *    [2, 256] (256 = one byte per code, the PQ storage contract).
    *    n = 500 (gate scale) → 8, exactly the vec_id < 8 seed set
    *    q146/q148 pass explicitly (pinned in Round10Spec).
    * Pure — callers probe the count once and pass the result to
    * [[pqSeeds]] / [[pqTrainedCodebook]]. */
  def derivedPqParams(dim: Int, n: Long): (Int, Int) = {
    require(dim >= 1, s"need dim >= 1, got $dim")
    val subDim = Seq(16, 8, 4, 2, 1).find(dim % _ == 0).get
    val c0 = java.lang.Long.highestOneBit(math.max(n / 39L, 2L))
    (dim / subDim, math.min(256L, c0).toInt)
  }

  /** Deterministic training seeds: the `centroids` lowest-id vectors
    * — the arbitrary-but-reproducible choice whose arbitrariness
    * [[pqTrainedCodebook]]'s Lloyd rounds then wash out. A global
    * top-k by id (TakeOrdered at `centroids` rows), never a sort of
    * the corpus. */
  def pqSeeds(vectors: DataFrame, idCol: String, centroids: Int): DataFrame = {
    require(centroids >= 1, s"need centroids >= 1, got $centroids")
    vectors.orderBy(col(idCol)).limit(centroids)
  }

  /** PQ codebook from seed vectors: (sub, code, cv) — centroid `code`
    * of subspace `sub` is the seed's subvector. Production trains the
    * codebook by iterating [[kmeansStep]] per subspace; the seed
    * codebook keeps the gate deterministic with the same downstream
    * shapes (the coding/ADC cost is identical however the centroids
    * were obtained). */
  def pqCodebook(seeds: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int): DataFrame =
    subSlices(seeds, idCol, "code", vecCol, dim, m)
      .select(col("sub"), col("code"), col("sv").as("cv"))

  /** TRAINED PQ codebook: per-subspace Lloyd's k-means, seeded from
    * [[pqCodebook]] and iterated `iters` rounds — the quality step the
    * seed codebook skips (seed centroids are arbitrary corpus
    * vectors; FAISS-style PQ trains each subspace independently to
    * convergence). Assignment uses the EXACT argmin rule of
    * [[pqCodes]] (squared-L2, centroid id tiebreak), so training and
    * coding can never disagree about "nearest"; centroid updates use
    * the [[kmeansStep]] fixed-point discipline (components scaled by
    * 2^`fracBits`, floored, summed as DECIMAL(38,0)) — exact,
    * order-independent, so trained centroids are bit-reproducible
    * across partitionings, runs, and engines (a DuckDB oracle
    * regenerates them from HUGEINT sums; q146/q148). Codes that lose
    * every member keep their previous centroid, as in [[kmeans]].
    *
    * Scale shape per iteration: codebook broadcasts (m·codes rows);
    * assignment is the [[pqCodes]] partial `min(struct)` aggregate
    * over the (once-materialized) slice frame; the update is a
    * (sub, code, dim) partial aggregate — m·codes·subDim rows out.
    * No corpus shuffle grows with iterations; the slice frame is
    * localCheckpoint'd once and released on return. */
  def pqTrainedCodebook(vectors: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, iters: Int,
      fracBits: Int = 43): DataFrame = {
    require(iters >= 0, s"need iters >= 0, got $iters")
    require(fracBits > 0 && fracBits < 63, s"need 0 < fracBits < 63, got $fracBits")
    // double-typed seed codebook so every iteration (and the no-member
    // fallback coalesce) carries one element type; dot() casts per
    // element, so values are unchanged vs the float seed arrays
    val seed = pqCodebook(seeds, idCol, vecCol, dim, m)
      .select(col("sub"), col("code"), col("cv").cast("array<double>").as("cv"))
    if (iters == 0) return seed
    val scale = math.pow(2.0, fracBits) // exact power of two
    Checkpoints.scoped {
      val slices = subSlices(vectors, idCol, "__vid", vecCol, dim, m)
        .transform(Checkpoints.pin) // scanned once per iteration — never recompute
      (1 to iters).foldLeft(seed) { case (cb, round) =>
        val assigned = slices.join(broadcast(cb), Seq("sub"))
          .withColumn("d2", sqDist(col("sv"), col("cv")))
          .groupBy(col("__vid"), col("sub"))
          .agg(min(struct(col("d2"), col("code"))).as("b"),
            first(col("sv")).as("sv"))
          .select(col("sub"), col("b.code").as("code"), col("sv"))
        val means = assigned
          .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "v")))
          .groupBy(col("sub"), col("code"), col("dim"))
          .agg(count(lit(1)).as("__n"),
            sum(floor(col("v").cast("double") * scale).cast("decimal(38,0)")).as("__q"))
          .select(col("sub"), col("code"), col("dim"),
            (col("__q").cast("double") / scale / col("__n")).as("mean"))
        val tv = means.groupBy(col("sub"), col("code"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
            s => s.getField("mean")).as("tv"))
        val next = cb.join(tv, Seq("sub", "code"), "left")
          .select(col("sub"), col("code"), coalesce(col("tv"), col("cv")).as("cv"))
          .transform(Checkpoints.pin) // bound per-round plan growth (kmeans discipline)
        // release only checkpoints THIS loop created: the round-1 seed's
        // plan may reach a CALLER-owned checkpoint (ivfPqTopK's residual
        // frame feeds the seed codebook), and releasing it would kill
        // blocks the caller still reads; the scope releases `slices`
        if (round > 1) Checkpoints.releasePinned(cb)
        next
      }
    }
  }

  /** Mean PQ quantization distortion: the per-vector sum over
    * subspaces of the assigned (nearest) centroid's squared-L2
    * distance, averaged over the corpus — the objective Lloyd's
    * algorithm minimizes, so [[pqTrainedCodebook]] must be monotone
    * non-increasing in it (pinned in TrainedPqSpec). One partial
    * aggregate over the slice frame; the codebook broadcasts. */
  def pqDistortion(vectors: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int): Double =
    subSlices(vectors, idCol, "__vid", vecCol, dim, m)
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d2", sqDist(col("sv"), col("cv")))
      .groupBy(col("__vid"), col("sub"))
      .agg(min(col("d2")).as("d2"))
      .groupBy(col("__vid")).agg(sum(col("d2")).as("d2"))
      .agg(avg(col("d2"))).head().getDouble(0)

  /** PQ coding: each vector reduced to `m` small integers — its
    * nearest centroid per subspace (squared-L2, centroid id as the
    * tiebreak). Long format (id, sub, code); a production store
    * pivots to one `m`-byte array per vector — the 4×-to-64×
    * compression that makes billion-vector stores RAM-resident.
    *
    * Scale shape: the codebook broadcasts (m·centroids rows); coding
    * is one map-side pass over m·|corpus| sliced rows; the argmin is
    * a PARTIAL `min(struct(d2, code))` aggregate — no window, no
    * per-vector state beyond one struct per (id, sub). */
  def pqCodes(vectors: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int): DataFrame =
    subSlices(vectors, idCol, "__vid", vecCol, dim, m)
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d2", sqDist(col("sv"), col("cv")))
      .groupBy(col("__vid"), col("sub"))
      .agg(min(struct(col("d2"), col("code"))).as("b"))
      .select(col("__vid").as(idCol), col("sub"), col("b.code").as("code"))

  /** Coarse assignment + residuals for IVF-PQ: each vector assigned
    * to its nearest (squared-L2) coarse centroid, returned with the
    * residual `x − c` in DOUBLE arithmetic (float subtraction would
    * diverge from any double-computing engine). One shuffle: the
    * argmin is a partial `min(struct(d2, cid, cv))` aggregate with
    * the vector riding as a `first()` payload — no re-join of the
    * corpus against itself. Output: (id, list_id, rv). */
  def ivfResiduals(vectors: DataFrame, coarse: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val x = vectors.select(col(idCol),
      col(vecCol).cast("array<double>").as("__x"))
    val c = coarse.select(col(idCol).cast("long").as("__cid"),
      col(vecCol).cast("array<double>").as("__cv"))
    x.crossJoin(broadcast(c))
      .withColumn("d2", sqDist(col("__x"), col("__cv")))
      .groupBy(col(idCol))
      .agg(min(struct(col("d2"), col("__cid"), col("__cv"))).as("b"),
        first(col("__x")).as("__x"))
      .select(col(idCol), col("b.__cid").as("list_id"),
        zip_with(col("__x"), col("b.__cv"), (a, b) => a - b).as("rv"))
  }

  /** IVF-PQ retrieval — the production billion-vector index shape
    * (coarse inverted lists + product-quantized RESIDUALS): vectors
    * are assigned to coarse lists ([[ivfResiduals]]), their residuals
    * PQ-coded against a residual codebook, and a query probes only
    * its `nProbe` nearest lists — for each probed list the query's
    * OWN residual (q − c_list) builds the ADC table, so scoring a
    * coded vector is m lookups, exactly [[pqAdcTopK]]'s arithmetic
    * on list-relative coordinates. Fixed-point longs keep every
    * score and rank bit-reproducible.
    *
    * Scale shape: coarse centroids, residual codebook, and the
    * per-(query, list) ADC tables all broadcast; the corpus-side
    * cost is the coarse argmin + the PQ coding passes (both partial
    * aggregates) and a scoring join that only touches vectors whose
    * LIST IS PROBED — the nProbe/lists fraction of the corpus, the
    * entire point of IVF. Returns (query_id, rank, neighbor_id,
    * adc_fp), k rows per query. */
  /** The residual codebook [[ivfPqTopK]] trains in-query when no
    * precomputed one is passed — exposed so serving can TRAIN ONCE
    * and reuse it ([[ModelStore]]; the codebook is model state like
    * the dedup signature store, and round-10's bench measured 2–3×
    * serving medians from retraining inside every timed query).
    * Must be built against the SAME `coarse` frame the serving call
    * uses — residuals are list-relative coordinates. */
  def ivfPqResidualCodebook(vectors: DataFrame, coarse: DataFrame,
      residualSeeds: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, trainIters: Int): DataFrame = Checkpoints.scoped {
    // barrier: the residual frame feeds the seed join AND the
    // training slices — without it each re-runs the coarse argmin
    val res = ivfResiduals(vectors, coarse, idCol, vecCol).transform(Checkpoints.pin)
    val seedIds = residualSeeds.select(col(idCol)).distinct()
    val rcb =
      if (trainIters == 0) pqCodebook(
        res.join(broadcast(seedIds), Seq(idCol)), idCol, "rv", dim, m)
      else pqTrainedCodebook(res,
        res.join(broadcast(seedIds), Seq(idCol)), idCol, "rv", dim, m, trainIters)
    Checkpoints.pin(rcb)
  }

  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, coarse: DataFrame,
      residualSeeds: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, nProbe: Int, k: Int, trainIters: Int = 0,
      residualCodebook: Option[DataFrame] = None): DataFrame = {
    require(nProbe >= 1 && k >= 1, s"need nProbe/k >= 1, got $nProbe/$k")
    // MATERIALIZATION BARRIER: the residual frame feeds THREE
    // consumers (the codebook seeds, the coding pass, and the
    // list-id join) — without it each re-runs the coarse argmin over
    // the corpus. Production persists codes to a store instead.
    val res = ivfResiduals(vectors, coarse, idCol, vecCol).transform(Checkpoints.pin)
    val seedIds = residualSeeds.select(col(idCol)).distinct()
    // trainIters > 0 trains the residual codebook per-subspace
    // (k-means over ALL residuals, seeds from residualSeeds) — the
    // quality step that turns ADC from floor-grade to usable
    // retrieval. A caller serving many queries passes the
    // ONCE-TRAINED codebook ([[ivfPqResidualCodebook]] through
    // [[ModelStore]]) instead of re-deriving it per call.
    val rcb = residualCodebook.getOrElse {
      if (trainIters == 0) pqCodebook(
        res.join(broadcast(seedIds), Seq(idCol)), idCol, "rv", dim, m)
      else pqTrainedCodebook(res,
        res.join(broadcast(seedIds), Seq(idCol)), idCol, "rv", dim, m, trainIters)
    }
    val codes = pqCodes(res, rcb, idCol, "rv", dim, m)
      .join(res.select(col(idCol), col("list_id")), Seq(idCol))
    val qres = ivfProbeResiduals(queries, coarse, idCol, vecCol, nProbe)
    // subSlices flattens per (query, sub) and would lose the probed
    // list; build the per-(query, list) table from qres directly
    val dt = qres.select(col("query_id"), col("list_id"),
        explode(array((0 until m).map { s0 =>
          val subDim = dim / m
          struct(lit(s0).as("sub"),
            slice(col("rv"), s0 * subDim + 1, subDim).as("sv"))
        }: _*)).as("x"))
      .select(col("query_id"), col("list_id"),
        col("x.sub").as("sub"), col("x.sv").as("sv"))
      .join(broadcast(rcb), Seq("sub"))
      .select(col("query_id"), col("list_id"), col("sub"), col("code"),
        floor(sqDist(col("sv"), col("cv")) * lit(1073741824.0))
          .cast("long").as("dfp"))
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_fp"), col(idCol))
    codes.join(broadcast(dt), Seq("list_id", "sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("dfp")).as("adc_fp"))
      .withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col(idCol).as("neighbor_id"), col("adc_fp"))
  }

  /** Each query's `nProbe` nearest coarse lists with the query's
    * residual against EACH probed list's centroid: (query_id,
    * list_id, rv). Queries × centroids is broadcast-small. */
  private def ivfProbeResiduals(queries: DataFrame, coarse: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("__q"))
    val c = coarse.select(col(idCol).cast("long").as("list_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    q.crossJoin(broadcast(c))
      .withColumn("d2", sqDist(col("__q"), col("__cv")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("list_id"))))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("list_id"),
        zip_with(col("__q"), col("__cv"), (a, b) => a - b).as("rv"))
  }

  /** Append one batch of PQ CODES to the persisted index at `root` —
    * the other half of the serving story [[ModelStore]] started: the
    * codebook is model state, and the CODES are the index payload (m
    * small integers per vector — the 4×-to-64× compression that makes
    * billion-vector stores RAM-resident). A daily delta codes ONLY its
    * own vectors against the frozen codebook and appends via the
    * [[BatchStore]] stage-and-rename commit; serving
    * ([[pqAdcTopKFromStore]]) reads the union of committed batches
    * and NEVER touches the corpus embedding column again — the
    * whole point of paying the coding pass at write time. Assumes
    * each vector's codes live in exactly one batch (append deltas,
    * don't re-append ids), like the posting store. */
  def writePqIndex(vectors: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, root: String, batchId: Long): Unit =
    BatchStore.append(
      pqCodes(vectors, codebook, idCol, vecCol, dim, m), root, batchId)

  /** [[pqAdcTopK]] OVER THE PERSISTED CODE STORE: identical ADC
    * arithmetic (per-query (sub, code) distance table, fixed-point
    * lookup sums, (adc_fp, id) ranking) with the corpus side read
    * from [[writePqIndex]]'s committed batches — value-identical to
    * coding in-memory (spec-pinned), with the store scan reading
    * ONLY the (id, sub, code) columns: a served query costs
    * |queries|·m·centroids broadcast table rows + one pass over
    * m·N tiny code rows, not one over N `dim`-float embeddings. */
  def pqAdcTopKFromStore(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    // erasure mask ([[Tombstones]] — deletes via [[deleteFromPqIndex]])
    val codes = Tombstones.apply(spark, root,
        BatchStore.read(spark, root), idCol)
      .select(col(idCol), col("sub"), col("code"))
    val dtable = subSlices(queries, idCol, "query_id", vecCol, dim, m)
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        floor(sqDist(col("sv"), col("cv")) * lit(1073741824.0))
          .cast("long").as("dfp"))
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_fp"), col(idCol))
    codes.join(broadcast(dtable), Seq("sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("dfp")).as("adc_fp"))
      .withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col(idCol).as("neighbor_id"), col("adc_fp"))
  }

  /** Write the IVF-PQ index: one row per (vector, subspace) —
    * `(id, list_id, sub, code)`, the coarse assignment plus residual
    * PQ codes against a FROZEN codebook ([[ivfPqResidualCodebook]]
    * through [[ModelStore]]) — PARTITIONED BY `list_id` inside the
    * [[BatchStore]] commit, so a probed query's scan prunes at the
    * DIRECTORY level: unprobed lists' files are never opened
    * ([[ivfPqTopKFromStore]]; the on-disk form of "a probe touches
    * nProbe/lists of the corpus"). */
  def writeIvfPqIndex(vectors: DataFrame, coarse: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
      root: String, batchId: Long): Unit = Checkpoints.scoped {
    // barrier: residuals feed the coding pass AND the list-id join
    val res = ivfResiduals(vectors, coarse, idCol, vecCol).transform(Checkpoints.pin)
    val codes = pqCodes(res, codebook, idCol, "rv", dim, m)
      .join(res.select(col(idCol), col("list_id")), Seq(idCol))
    BatchStore.append(codes, root, batchId, partitionBy = Seq("list_id"))
  }

  /** Maintain the IVF-PQ index FROM A STREAM — vector ingest as a
    * `foreachBatch` streaming job: embeddings arrive continuously,
    * each epoch codes ONLY its own vectors against the FROZEN coarse
    * centroids + residual codebook and commits a list-partitioned
    * batch ([[writeIvfPqIndex]]). Coding is stateless across vectors
    * (the frozen model is the only shared state), so the served index
    * is independent of epoch chunking, and the sink is EXACTLY-ONCE
    * under at-least-once replay ([[BatchStore.epochSink]]: one dir per
    * epoch — no two-dir crash window). */
  def ivfPqIndexSink(coarse: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int,
      root: String): (DataFrame, Long) => Unit =
    BatchStore.epochSink(root)(writeIvfPqIndex(_, coarse, codebook, idCol,
      vecCol, dim, m, root, _))

  /** DELETE vectors from the served IVF-PQ index — the
    * [[Tombstones]] discipline (an embedding of an erased document is
    * as much personal data as its text): commit the ids, serving
    * ([[ivfPqTopKFromStore]]) masks them after its partition filter,
    * [[purgeIvfPqIndex]] rewrites at the next maintenance window. No
    * sidecar to adjust — the index carries no corpus stats. */
  def deleteFromIvfPqIndex(ids: DataFrame, idCol: String, root: String,
      batchId: Long): Unit =
    Tombstones.append(ids, idCol, root, batchId)

  /** [[deleteFromIvfPqIndex]] for the flat PQ code store
    * ([[writePqIndex]]): serving ([[pqAdcTopKFromStore]]) masks, and
    * the purge needs no partition re-layout (the flat store has
    * none). */
  def deleteFromPqIndex(ids: DataFrame, idCol: String, root: String,
      batchId: Long): Unit =
    Tombstones.append(ids, idCol, root, batchId)

  /** Physically drop tombstoned vectors from the flat PQ code store
    * and retire the applied tombstones. */
  def purgePqIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, newBatchId: Long): Int =
    Tombstones.purge(spark, root, idCol, newBatchId)

  /** Physically drop tombstoned vectors' code rows and retire the
    * applied tombstones — [[Tombstones.purge]] RE-PARTITIONED BY
    * `list_id`, so the compacted batch keeps the directory layout
    * probed serving depends on. */
  def purgeIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, newBatchId: Long): Int =
    Tombstones.purge(spark, root, idCol, newBatchId,
      partitionBy = Seq("list_id"))

  /** [[ivfPqTopK]] OVER THE PERSISTED INDEX: identical per-(query,
    * probed-list) ADC arithmetic with the corpus side read from
    * [[writeIvfPqIndex]]'s committed batches. The probed list ids
    * (nProbe × |queries| — driver-small) become an explicit
    * `list_id IN (…)` predicate on the store scan, which is a
    * PARTITION filter on the list-partitioned layout: serving reads
    * only the probed lists' directories (Round11Spec pins the
    * pruned partition count and value-equality with the in-memory
    * path). `coarse` and `codebook` must be the frozen artifacts the
    * index was built with. */
  def ivfPqTopKFromStore(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, coarse: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, nProbe: Int, k: Int): DataFrame = {
    require(nProbe >= 1 && k >= 1, s"need nProbe/k >= 1, got $nProbe/$k")
    val qres = ivfProbeResiduals(queries, coarse, idCol, vecCol, nProbe)
      .transform(Checkpoints.pin) // feeds the ADC table AND the probed-list collect
    val subDim = dim / m
    val dt = qres.select(col("query_id"), col("list_id"),
        explode(array((0 until m).map { s0 =>
          struct(lit(s0).as("sub"),
            slice(col("rv"), s0 * subDim + 1, subDim).as("sv"))
        }: _*)).as("x"))
      .select(col("query_id"), col("list_id"),
        col("x.sub").as("sub"), col("x.sv").as("sv"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("list_id"), col("sub"), col("code"),
        floor(sqDist(col("sv"), col("cv")) * lit(1073741824.0))
          .cast("long").as("dfp"))
    // the ADC table is (queries × nProbe × m × codes) rows — small;
    // materialize it so qres (which it references) can be released
    // before the serving join runs
    val dtm = Checkpoints.pin(dt)
    val probed = qres.select(col("list_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    Checkpoints.releasePinned(qres)
    val codes0 = BatchStore.read(spark, root)
    // the probed-list predicate must hit the PARTITION column at its
    // DISCOVERED type (small dir values infer as int) — longs would
    // wrap the column in a cast and forfeit directory pruning; the
    // long normalization for the join happens after the filter
    val probedLits: Seq[Any] = codes0.schema("list_id").dataType match {
      case org.apache.spark.sql.types.IntegerType => probed.toSeq.map(_.toInt)
      case _ => probed.toSeq
    }
    // erasure mask AFTER the partition filter: the anti-join's left
    // side is the probed lists' rows, not the store (Tombstones —
    // the discipline shared with the posting store)
    val codes = Tombstones.apply(spark, root,
      codes0.filter(col("list_id").isin(probedLits: _*)), idCol)
      .select(col(idCol), col("list_id").cast("long").as("list_id"),
        col("sub"), col("code"))
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_fp"), col(idCol))
    codes.join(broadcast(dtm), Seq("list_id", "sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("dfp")).as("adc_fp"))
      .withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col(idCol).as("neighbor_id"), col("adc_fp"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query
    * precomputes its (sub, code) → distance TABLE against the
    * codebook (|queries|·m·centroids rows — broadcast); a coded
    * vector's approximate distance is then `m` table lookups summed.
    * Distances enter the sum as FIXED-POINT longs (`floor(d2·2³⁰)`),
    * so the unordered distributed sum is exact and the ranking —
    * (adc_fp asc, id) per query via partial window ranks — is
    * bit-reproducible cross-engine (the q67/q89 discipline applied
    * to ADC). Returns (query_id, rank, neighbor_id, adc_fp), k rows
    * per query. */
  def pqAdcTopK(vectors: DataFrame, queries: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val codes = pqCodes(vectors, codebook, idCol, vecCol, dim, m)
    val dtable = subSlices(queries, idCol, "query_id", vecCol, dim, m)
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        floor(sqDist(col("sv"), col("cv")) * lit(1073741824.0))
          .cast("long").as("dfp"))
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_fp"), col(idCol))
    codes.join(broadcast(dtable), Seq("sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("dfp")).as("adc_fp"))
      .withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col(idCol).as("neighbor_id"), col("adc_fp"))
  }
}
