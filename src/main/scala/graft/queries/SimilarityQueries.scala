package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Checkpoints, Similarity}

/** Similarity search over the `embeddings` table (`array<float>`,
  * 64-dim): brute-force exact top-k, IVF-style bucketed top-k, and
  * cosine near-dup pairs.
  *
  * Cross-engine float note: both sides cast the float vectors to
  * double and compute dot products as a sequential left fold — Spark
  * via `aggregate(zip_with(...))`, DuckDB via `list_inner_product` on
  * `DOUBLE[]` (verified to equal an explicit sequential fold). With
  * identical operand order the doubles are bit-identical, so ranks and
  * values hash-match without rounding.
  */
object SimilarityQueries {

  private val dCos =
    "list_inner_product(qv, cv) / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))"

  // q34 — brute-force exact top-5 neighbors for query vectors id < 10.
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q34Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id, $dCos AS cosine
      |  FROM q CROSS JOIN (SELECT vec_id, v AS cv FROM e) e
      |  WHERE query_id <> e.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // q35 — IVF-style bucketed top-3: queries search only their own
  // label's inverted list (the coarse-quantizer scale path).
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bucketedTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        bucketCol = "label", k = 3)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q35Sql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label, v AS qv FROM e WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.label, query_id, c.vec_id AS neighbor_id, $dCos AS cosine
      |  FROM q JOIN (SELECT vec_id, label, v AS cv FROM e) c ON q.label = c.label
      |  WHERE query_id <> c.vec_id),
      |ranked AS (SELECT label, query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT label, query_id, rank, neighbor_id, cosine FROM ranked
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // q36 — embedding-cosine near-dup pairs within label buckets.
  private def q36(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        bucketCol = "label", threshold = 0.30)
      .orderBy(col("label"), col("id_a"), col("id_b"))
  private val q36Sql =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
      | list_inner_product(a.v, b.v)
      |   / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS cosine
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_inner_product(a.v, b.v)
      |   / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) > 0.30
      |ORDER BY a.label, id_a, id_b""".stripMargin

  /** The embeddings `e` and the 8 seed centroids `c` (vectors 0..7)
    * of the IVF/k-means oracles; opens the WITH. Unstripped. */
  private lazy val seedCentroidsE =
    s"""$embeddingsE
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),"""
  /** Every (vector, seed centroid) cosine: `scored(vec_id, cid, cos)`. */
  private lazy val centroidCosCte =
    """scored AS (
      |  SELECT e.vec_id, c.cid,
      |    list_inner_product(e.v, cv) / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(cv, cv))) AS cos
      |  FROM e CROSS JOIN c),"""
  /** Each vector's nearest seed centroid by cosine, ties to the lower
    * id: `assign(vec_id, cid)`. */
  private lazy val ivfAssignCte =
    """assign AS (SELECT vec_id, cid FROM (
      |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    list_inner_product(e.v, cv) / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(cv, cv))) DESC,
      |    c.cid) AS rn
      |  FROM e CROSS JOIN c) WHERE rn = 1),"""

  // q51 — IVF coarse quantization: zero-shuffle argmax assignment of
  // every vector to its nearest of 8 centroids (vectors 0..7), then
  // per-centroid inverted-list stats. min/max cosine (order
  // statistics, no accumulation) keep the doubles bit-exact
  // cross-engine.
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfAssign(e, e.filter(col("vec_id") < 8), "vec_id", "embedding")
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("centroid_cosine")).as("min_cosine"),
        max(col("centroid_cosine")).as("max_cosine"))
      .orderBy(col("centroid_id"))
  }
  private lazy val q51Sql =
    s"""$seedCentroidsE
      |$centroidCosCte
      |best AS (SELECT vec_id, cid, cos,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM scored)
      |SELECT cid AS centroid_id, COUNT(*) AS n_vectors,
      |  MIN(cos) AS min_cosine, MAX(cos) AS max_cosine
      |FROM best WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin

  // q52 — IVF multi-probe top-3: queries probe their 2 nearest
  // centroids' inverted lists (centroids = vectors 0..7, queries =
  // vectors 0..9).
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }
  private lazy val q52Sql =
    s"""$seedCentroidsE
      |$ivfAssignCte
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |qs AS (SELECT query_id, qv, cid, row_number() OVER (PARTITION BY query_id ORDER BY
      |    list_inner_product(qv, cv) / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) DESC,
      |    cid) AS pr
      |  FROM q CROSS JOIN c),
      |cand AS (
      |  SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, e2.v AS cv
      |  FROM (SELECT query_id, qv, cid FROM qs WHERE pr <= 2) p
      |  JOIN assign a ON a.cid = p.cid
      |  JOIN e e2 ON e2.vec_id = a.vec_id
      |  WHERE a.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM (SELECT query_id, neighbor_id, $dCos AS cosine FROM cand))
      |SELECT query_id, rank, neighbor_id, cosine FROM ranked
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // q110 — IVF retrieval-quality gate: recall@3 of the q52 multiprobe
  // against the q34-style exact brute force, computed IN-QUERY per
  // query vector. q52 verifies the multiprobe's mechanics; this gates
  // its QUALITY — if the probe count, centroid assignment, or
  // candidate ranking regresses, the recall values change and the
  // oracle hash breaks, and recall below the measured floor fails the
  // run in-plan (`assert_true`, zero extra jobs). Floor = 1/3:
  // the sf-independent lower bound observed across testdata scales
  // (mean recall is far higher; per-query minimum is the honest gate).
  private val RecallFloor = 1.0 / 3.0
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 10)
    val brute = Similarity
      .bruteForceTopK(e, queries, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Similarity
      .ivfTopK(e, queries, e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 3, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(3.0))
      .filter(assert_true(col("recall") >= RecallFloor,
        concat(lit(s"IVF recall@3 below floor $RecallFloor for query "),
          col("query_id").cast("string"))).isNull)
      .orderBy(col("query_id"))
  }
  private lazy val q110Sql =
    s"""$seedCentroidsE
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |brute AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY $dCos DESC, e.vec_id) AS rank
      |  FROM q CROSS JOIN (SELECT vec_id, v AS cv FROM e) e
      |  WHERE query_id <> e.vec_id) WHERE rank <= 3),
      |$ivfAssignCte
      |qs AS (SELECT query_id, qv, cid, row_number() OVER (PARTITION BY query_id ORDER BY
      |    list_inner_product(qv, cv) / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) DESC,
      |    cid) AS pr
      |  FROM q CROSS JOIN c),
      |ivf AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM (SELECT p.query_id, a.vec_id AS neighbor_id,
      |      list_inner_product(p.qv, e2.v)
      |        / (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(e2.v, e2.v))) AS cosine
      |    FROM (SELECT query_id, qv, cid FROM qs WHERE pr <= 2) p
      |    JOIN assign a ON a.cid = p.cid
      |    JOIN e e2 ON e2.vec_id = a.vec_id
      |    WHERE a.vec_id <> p.query_id)) WHERE rank <= 3)
      |SELECT b.query_id,
      |  CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |  CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 3.0 AS recall
      |FROM brute b LEFT JOIN ivf i
      |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  // q67 — one Lloyd iteration of k-means (seeds = vectors 0..7): the
  // q51 argmax assignment, then per-(cluster, dim) member means.
  // The means accumulate in FIXED-POINT (floor(v·2^43) summed as
  // exact integers) — order-independent, so the unordered distributed
  // sum is bit-reproducible and hash-matches DuckDB's HUGEINT sum of
  // the same quantities. See [[graft.operators.Similarity.kmeansStep]].
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.kmeansStep(e, e.filter(col("vec_id") < 8), "vec_id", "embedding")
      .orderBy(col("centroid_id"), col("dim"))
  }
  private lazy val q67Sql =
    s"""$seedCentroidsE
      |$centroidCosCte
      |best AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |  FROM scored) WHERE rn = 1),
      |ex AS (SELECT b.cid AS centroid_id,
      |    generate_subscripts(e.v, 1) - 1 AS dim,
      |    CAST(FLOOR(unnest(e.v) * 8796093022208.0) AS BIGINT) AS q
      |  FROM best b JOIN e ON e.vec_id = b.vec_id)
      |SELECT centroid_id, CAST(dim AS BIGINT) AS dim,
      |  COUNT(*) AS n_members,
      |  CAST(SUM(q) AS DOUBLE) / 8796093022208.0 / COUNT(*) AS mean
      |FROM ex GROUP BY centroid_id, dim ORDER BY centroid_id, dim""".stripMargin

  // ---------------------------------------------------------------
  // q75 — int8 absmax quantization digest per vector: dim, scale, and
  // the exact element sum / min / max / saturation count of the
  // quantized array. floor-of-double arithmetic is bit-identical
  // cross-engine, so the digest hash-matches without tolerance (see
  // [[graft.operators.Quantize]]; the full q arrays are pinned in
  // QuantizeSpec). Pure map-side — no shuffle but the output orderBy.
  private def q75(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantize.int8Summary(Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy(col("vec_id"))
  private val q75Sql =
    """WITH e AS (SELECT vec_id, embedding, len(embedding) AS dim,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      |  FROM embeddings),
      |q AS (SELECT vec_id, dim, scale,
      |  CASE WHEN scale > 0
      |    THEN list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / scale) AS BIGINT))
      |    ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS ql
      |  FROM e)
      |SELECT vec_id, CAST(dim AS BIGINT) AS dim, scale,
      |  CAST(list_sum(ql) AS BIGINT) AS q_sum,
      |  CAST(list_min(ql) AS INTEGER) AS q_min,
      |  CAST(list_max(ql) AS INTEGER) AS q_max,
      |  CAST(len(list_filter(ql, x -> abs(x) = 127)) AS BIGINT) AS n_sat
      |FROM q ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // q91 — near-dup pairs via sign-random-projection LSH (the cosine
  // analog of q30's MinHash banding): 6 tables × 6-bit signatures
  // from md5-derived ±1 hyperplanes, bucket-join candidates, exact
  // cosine verification at 0.30 — the same threshold as q36, whose
  // all-pairs-within-label answer this approximates WITHOUT ever
  // forming all pairs. The oracle regenerates the identical planes
  // from md5 in SQL, so the gate checks the LSH semantics exactly
  // (see [[graft.operators.Similarity.rpSignatures]]).
  private def q91(s: SparkSession, dir: String): DataFrame =
    Similarity.rpLshNearDupPairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, bits = 6, tables = 6, threshold = 0.30)
      .orderBy(col("id_a"), col("id_b"))
  private val q91Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |planes AS (
      |  SELECT p, list_transform(range(0, 64), i ->
      |    CASE WHEN CAST('0x' || substr(md5('rp:' || p || ':' || i), 1, 15) AS BIGINT) % 2 = 0
      |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS coefs
      |  FROM range(0, 36) t(p)),
      |sig AS (
      |  SELECT e.vec_id, p // 6 AS rp_table,
      |    SUM(CASE WHEN list_inner_product(e.v, pl.coefs) > 0
      |             THEN 1 << (p % 6) ELSE 0 END) AS rp_bucket
      |  FROM e CROSS JOIN planes pl GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM sig a JOIN sig b
      |    ON a.rp_table = b.rp_table AND a.rp_bucket = b.rp_bucket
      |   AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b,
      |  list_inner_product(ea.v, eb.v)
      |    / (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v))) AS cosine
      |FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
      |WHERE list_inner_product(ea.v, eb.v)
      |    / (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v))) > 0.30
      |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB fragment: absmax-int8 quantized vectors of `embeddings`
    * as DOUBLE lists (integer-valued — exactly the [[graft.operators
    * .Quantize.int8AbsMax]] rule, q75's oracle spelling), shared by
    * the q135/q136 oracles. */
  private val dInt8 =
    """qv AS (
      |  SELECT vec_id,
      |    CASE WHEN scale > 0
      |      THEN list_transform(embedding,
      |             x -> CAST(floor(CAST(x AS DOUBLE) * 127 / scale) AS DOUBLE))
      |      ELSE list_transform(embedding, x -> CAST(0 AS DOUBLE)) END AS q
      |  FROM (SELECT vec_id, embedding,
      |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      |        FROM embeddings))""".stripMargin
  private val dQcos =
    "list_inner_product(p.qv, c.q) / (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.q, c.q)))"

  // q135 — brute-force top-5 over SYMMETRICALLY int8-quantized
  // vectors: the 4×-bandwidth ANN variant of q34 — both sides
  // quantize with the q75 absmax rule and rank by the cosine of the
  // quantized vectors (per-vector scales cancel, so scoring never
  // reconstructs floats). All quantized components are integers in
  // [−127,127], so the cosine VALUES hash-match the oracle exactly —
  // the gate checks the quantized scoring math, q136 gates its
  // retrieval quality against the float baseline.
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.int8TopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q135Sql =
    s"""WITH $dInt8,
      |p AS (SELECT vec_id AS query_id, q AS qv FROM qv WHERE vec_id < 10),
      |scored AS (
      |  SELECT query_id, c.vec_id AS neighbor_id, $dQcos AS cosine
      |  FROM p CROSS JOIN qv c WHERE query_id <> c.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // q136 — retrieval-quality gate for the int8 path (the q110
  // discipline): recall@3 of quantized-cosine ranking against the
  // exact float brute force, per query, with an in-plan floor —
  // quantization that starts costing recall fails the run loudly
  // instead of silently degrading retrieval. Floor = 2/3: the
  // per-query minimum observed at sf0.001/sf0.01/sf0.1 (mean ≈ 0.97);
  // any scheme change that costs a second neighbor anywhere fails.
  private val Int8RecallFloor = 2.0 / 3.0
  private def q136(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 10)
    val brute = Similarity
      .bruteForceTopK(e, queries, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val int8 = Similarity
      .int8TopK(e, queries, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    brute.join(int8, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(3.0))
      .filter(assert_true(col("recall") >= Int8RecallFloor,
        concat(lit(s"int8 recall@3 below floor $Int8RecallFloor for query "),
          col("query_id").cast("string"))).isNull)
      .orderBy(col("query_id"))
  }
  private val q136Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$dInt8,
      |q AS (SELECT vec_id AS query_id, v AS fv FROM e WHERE vec_id < 10),
      |brute AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      list_inner_product(q.fv, e.v) / (sqrt(list_inner_product(q.fv, q.fv)) * sqrt(list_inner_product(e.v, e.v))) DESC,
      |      e.vec_id) AS rank
      |  FROM q CROSS JOIN e WHERE query_id <> e.vec_id) WHERE rank <= 3),
      |p AS (SELECT vec_id AS query_id, q AS qv FROM qv WHERE vec_id < 10),
      |i8 AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY $dQcos DESC, c.vec_id) AS rank
      |  FROM p CROSS JOIN qv c WHERE query_id <> c.vec_id) WHERE rank <= 3)
      |SELECT b.query_id,
      |  CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |  CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 3.0 AS recall
      |FROM brute b LEFT JOIN i8 i
      |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  // q123 — semantic dedup (SemDeDup): centroid-clustered cosine
  // near-dup removal over embeddings — the learned-cluster sibling of
  // q91's random-hyperplane bucketing (clusters adapt to the data;
  // planes don't). Centroids = vectors 0..7 as in q51/q52, pairs
  // compared only within a cluster, larger id of any pair with
  // cosine > 0.35 dropped. Verdict per vector, so the oracle checks
  // the full keep/drop partition, not just counts.
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.semanticDedup(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", threshold = 0.35)
      .orderBy(col("vec_id"))
  }
  private lazy val q123Sql =
    s"""$seedCentroidsE
      |$ivfAssignCte
      |drops AS (SELECT DISTINCT b.vec_id
      |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
      |  WHERE list_inner_product(ea.v, eb.v)
      |    / (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v))) > 0.35)
      |SELECT assign.vec_id, assign.cid AS centroid_id,
      |  (drops.vec_id IS NOT NULL) AS dropped
      |FROM assign LEFT JOIN drops ON drops.vec_id = assign.vec_id
      |ORDER BY assign.vec_id""".stripMargin

  // ---------------------------------------------------------------
  // DuckDB fragments of the PQ / IVF-PQ oracles. The multi-line ones
  // are UNSTRIPPED (their lines keep the `|` margins) and are
  // interpolated into the caller's string before its one stripMargin.
  private val pqSubs = "(SELECT unnest(range(4)) AS sub) s"
  /** Squared L2 distance of two DOUBLE[] lists, as inner products. */
  private def d2(a: String, b: String) =
    s"(list_inner_product($a, $a) - 2 * list_inner_product($a, $b) + list_inner_product($b, $b))"
  /** md5-derived uniform in [-1,1): the hash60 rule of q91's planes. */
  private def u(key: String) =
    s"(CAST('0x' || substr(md5($key), 1, 15) AS BIGINT) / 576460752303423488.0 - 1.0)"
  /** The `embeddings` table as the `e` CTE (opens the WITH). */
  private lazy val embeddingsE =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
  /** The planted-cluster fixture ([[graft.ScaleGen.plantedEmbeddings]],
    * 50 clusters × 10, md5-derived) regenerated as the `gen` and `e`
    * CTEs (opens the WITH). */
  private val plantedE =
    s"""WITH gen AS (SELECT i AS vec_id, i % 50 AS label,
      |    list_transform(range(0, 64), j -> CAST(
      |      ${u("'pc:' || (i % 50) || ':' || j")}
      |        + 1.0 * ${u("'pn:' || i || ':' || j")} AS FLOAT)) AS emb
      |  FROM range(0, 500) t(i)),
      |e AS (SELECT vec_id, label, CAST(emb AS DOUBLE[]) AS v FROM gen),"""
  /** Sub-space slices `xs` of `e` and the seed codebook `cb0` (the
    * `vec_id < seedsBelow` vectors' slices). */
  private def pqSlicesSql(seedsBelow: Int): String =
    s"""xs AS (SELECT vec_id, s.sub, v[s.sub*16+1 : s.sub*16+16] AS sv
      |  FROM e, $pqSubs),
      |cb0 AS (SELECT sub, vec_id AS code, sv AS cv FROM xs WHERE vec_id < $seedsBelow),"""
  /** The PQ ADC chain after `e`: [[pqSlicesSql]], the trained
    * codebook, argmin `codes`, the per-query ADC table `dt` (queries
    * vec_id < 10) and the summed fixed-point scores `sc`. */
  private def pqAdcSql(seedsBelow: Int): String = {
    val (trainCtes, cbFinal) = pqTrainSql("xs", "cb0", PqTrainIters)
    s"""${pqSlicesSql(seedsBelow)}
      |$trainCtes,
      |scored AS (SELECT xs.vec_id, xs.sub, cb.code,
      |    ${d2("xs.sv", "cb.cv")} AS d2
      |  FROM xs JOIN $cbFinal cb ON xs.sub = cb.sub),
      |codes AS (SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, code,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |  FROM scored) WHERE rn = 1),
      |dt AS (SELECT xs.vec_id AS query_id, cb.sub, cb.code,
      |    CAST(floor(${d2("xs.sv", "cb.cv")} * 1073741824) AS BIGINT) AS dfp
      |  FROM xs JOIN $cbFinal cb ON xs.sub = cb.sub WHERE xs.vec_id < 10),
      |sc AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
      |    CAST(SUM(dfp) AS BIGINT) AS adc_fp
      |  FROM codes JOIN dt ON codes.sub = dt.sub AND codes.code = dt.code
      |  GROUP BY 1, 2)"""
  }
  /** The IVF-PQ chain after `e` (q148/q152/q179 family): coarse
    * assignment to the 8 seed lists, residuals, the residual codebook
    * trained from the `8 <= vec_id < resSeedsBelow` seeds, argmin
    * `codes`, each query's `nProbe` nearest lists and its per-(query,
    * list) ADC table `dt`. Ends with `dt`'s comma. */
  private def ivfPqSql(resSeedsBelow: Int, nProbe: Int): String = {
    val (trainCtes, cbFinal) = pqTrainSql("rxs", "cb0", PqTrainIters)
    s"""c8 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |asg0 AS (SELECT e.vec_id, c8.cid, c8.cv, ${d2("e.v", "c8.cv")} AS d2
      |  FROM e CROSS JOIN c8),
      |asg AS (SELECT vec_id, cid AS list_id, cv FROM (
      |  SELECT vec_id, cid, cv,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |  FROM asg0) WHERE rn = 1),
      |res AS (SELECT a.vec_id, a.list_id,
      |    list_transform(generate_series(1, 64), i -> e.v[i] - a.cv[i]) AS rv
      |  FROM asg a JOIN e ON e.vec_id = a.vec_id),
      |rxs AS (SELECT vec_id, list_id, s.sub,
      |    rv[s.sub*16+1 : s.sub*16+16] AS sv FROM res, $pqSubs),
      |cb0 AS (SELECT sub, vec_id AS code, sv AS cv FROM rxs
      |  WHERE vec_id >= 8 AND vec_id < $resSeedsBelow),
      |$trainCtes,
      |rcb AS (SELECT sub, code, cv FROM $cbFinal),
      |sc0 AS (SELECT rxs.vec_id, rxs.list_id, rxs.sub, rcb.code,
      |    ${d2("rxs.sv", "rcb.cv")} AS d2
      |  FROM rxs JOIN rcb ON rxs.sub = rcb.sub),
      |codes AS (SELECT vec_id, list_id, sub, code FROM (
      |  SELECT vec_id, list_id, sub, code,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |  FROM sc0) WHERE rn = 1),
      |pr0 AS (SELECT q.vec_id AS query_id, c8.cid AS list_id, c8.cv,
      |    ${d2("q.v", "c8.cv")} AS d2
      |  FROM (SELECT * FROM e WHERE vec_id < 10) q CROSS JOIN c8),
      |pr AS (SELECT query_id, list_id, cv FROM (
      |  SELECT query_id, list_id, cv,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d2, list_id) AS rn
      |  FROM pr0) WHERE rn <= $nProbe),
      |qres AS (SELECT p.query_id, p.list_id,
      |    list_transform(generate_series(1, 64), i -> e.v[i] - p.cv[i]) AS rv
      |  FROM pr p JOIN e ON e.vec_id = p.query_id),
      |qxs AS (SELECT query_id, list_id, s.sub,
      |    rv[s.sub*16+1 : s.sub*16+16] AS sv FROM qres, $pqSubs),
      |dt AS (SELECT qxs.query_id, qxs.list_id, qxs.sub, rcb.code,
      |    CAST(floor(${d2("qxs.sv", "rcb.cv")} * 1073741824) AS BIGINT) AS dfp
      |  FROM qxs JOIN rcb ON qxs.sub = rcb.sub),"""
  }
  /** IVF-PQ summed scores `sc` of the codes in CTE `live` against `dt`. */
  private def ivfScSql(live: String): String =
    s"""sc AS (SELECT dt.query_id, $live.vec_id AS neighbor_id,
      |    CAST(SUM(dfp) AS BIGINT) AS adc_fp
      |  FROM $live JOIN dt ON $live.list_id = dt.list_id
      |    AND $live.sub = dt.sub AND $live.code = dt.code
      |  GROUP BY 1, 2)"""
  /** Each query's top 5 of `sc` by (adc_fp, neighbor_id). */
  private val top5Sql =
    """SELECT query_id, rank, neighbor_id, adc_fp FROM (
      |  SELECT query_id, neighbor_id, adc_fp,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_fp, neighbor_id) AS BIGINT) AS rank
      |  FROM sc) WHERE rank <= 5"""
  /** The exact-top-5 recall audit over `topk` (q146/q148): the exact
    * squared-L2 top 5 per query, each returned neighbor's hit, the
    * audited rows. Closes the statement. */
  private val recallAuditSql =
    s"""q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |ex AS (SELECT query_id, neighbor_id FROM (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY CAST(floor(${d2("e.v", "q.qv")} * 1073741824) AS BIGINT), e.vec_id) AS rn
      |  FROM e CROSS JOIN q) WHERE rn <= 5),
      |rec AS (SELECT t.query_id,
      |    CAST(SUM(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      |  FROM topk t LEFT JOIN ex
      |    ON t.query_id = ex.query_id AND t.neighbor_id = ex.neighbor_id
      |  GROUP BY t.query_id)
      |SELECT t.query_id, t.rank, t.neighbor_id, t.adc_fp, rec.n_hits
      |FROM topk t JOIN rec ON t.query_id = rec.query_id
      |ORDER BY t.query_id, t.rank"""
  /** The cluster-mate audit over `topk` (q150/q152). Closes the
    * statement. */
  private val mateAuditSql =
    """mates AS (SELECT t.query_id,
      |    CAST(SUM(CASE WHEN lq.label = ln.label THEN 1 ELSE 0 END) AS BIGINT) AS n_mates
      |  FROM topk t
      |  JOIN e lq ON lq.vec_id = t.query_id
      |  JOIN e ln ON ln.vec_id = t.neighbor_id
      |  GROUP BY t.query_id)
      |SELECT t.query_id, t.rank, t.neighbor_id, t.adc_fp, m.n_mates
      |FROM topk t JOIN mates m ON t.query_id = m.query_id
      |ORDER BY t.query_id, t.rank"""

  /** q146/q148's in-plan recall floor on an ANN top-5 `adc`
    * (query_id, rank, neighbor_id, adc_fp): each query's exact
    * squared-L2 top 5 over `e` (fixed-point distances, id tiebreak)
    * counts the returned neighbors it contains, and any query below
    * `floorHits` fails the run with `what`'s message. */
  private def recallAudited(e: DataFrame, queries: DataFrame,
      adc: DataFrame, floorHits: Long, what: String): DataFrame = {
    import graft.operators.Similarity.dot
    val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("xv"))
      .crossJoin(broadcast(qv))
      .withColumn("dfp", floor(
        (dot(col("xv"), col("xv")) - lit(2.0) * dot(col("xv"), col("qv"))
          + dot(col("qv"), col("qv"))) * lit(1073741824.0)).cast("long"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("dfp"), col("neighbor_id"))))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val rec = adc.join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    adc.join(rec, Seq("query_id"))
      .filter(assert_true(col("n_hits") >= floorHits,
        concat(lit(s"$what recall@5 below $floorHits/5 for query "),
          col("query_id").cast("string"))).isNull)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_fp"), col("n_hits"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q150/q152's in-plan cluster-mate floor on a planted-fixture
    * top-5 `adc`: per query, how many returned neighbors share its
    * `label`; any query below `floorHits` fails the run. */
  private def mateAudited(e: DataFrame, adc: DataFrame, floorHits: Long,
      what: String): DataFrame = {
    val lbl = e.select(col("vec_id"), col("label"))
    val mates = adc
      .join(lbl.select(col("vec_id").as("query_id"), col("label").as("qlabel")), "query_id")
      .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")), "neighbor_id")
      .groupBy(col("query_id"))
      .agg(sum(when(col("qlabel") === col("nlabel"), 1L).otherwise(0L)).as("n_mates"))
    adc.join(mates, Seq("query_id"))
      .filter(assert_true(col("n_mates") >= floorHits,
        concat(lit(s"$what mate precision below $floorHits/5 for query "),
          col("query_id").cast("string"))).isNull)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_fp"), col("n_mates"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The IVF-PQ fixture of q148/q179/q186/q187 over the `embeddings`
    * table: 8 coarse centroids (vec_id < 8), residual-codebook
    * seeds 8..15, queries vec_id < 10, and the residual codebook —
    * the q146 train-once discipline, trained against the same coarse
    * frame it serves with and cached in the ModelStore (one training
    * per session, shared by all four gates). */
  private final case class IvfPq(e: DataFrame, coarse: DataFrame,
      resSeeds: DataFrame, queries: DataFrame, rcb: DataFrame)
  private def ivfPqFixture(s: SparkSession, dir: String): IvfPq = {
    val e = Tables.embeddings(s, dir)
    val coarse = e.filter(col("vec_id") < 8)
    val resSeeds = e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
    val queries = e.filter(col("vec_id") < 10)
    val rcb = graft.operators.ModelStore.cached(s, s"q148_rcb:$dir") {
      Similarity.ivfPqResidualCodebook(e, coarse, resSeeds,
        "vec_id", "embedding", dim = 64, m = 4, trainIters = PqTrainIters)
    }
    IvfPq(e, coarse, resSeeds, queries, rcb)
  }

  /** Unrolled DuckDB twin of one [[graft.operators.Similarity
    * .pqTrainedCodebook]] training run: `iters` Lloyd rounds over the
    * slice CTE `xs` (columns vec_id, sub, sv) seeded from `cb0`
    * (columns sub, code, cv). Each round: argmin assignment (d2 asc,
    * code tiebreak — the pqCodes rule), fixed-point per-(sub, code,
    * dim) means (floor(v·2^43) summed as HUGEINT — the q67
    * discipline, bit-identical to Spark's DECIMAL(38,0) sums), and a
    * no-member fallback to the previous centroid. Returns the CTE
    * fragments and the final codebook CTE's name. */
  private def pqTrainSql(xs: String, cb0: String, iters: Int): (String, String) = {
    val frags = (1 to iters).map { i =>
      val prev = if (i == 1) cb0 else s"cb_t${i - 1}"
      s"""asg_t$i AS (SELECT x.vec_id, x.sub, c.code, ${d2("x.sv", "c.cv")} AS d2, x.sv
        |  FROM $xs x JOIN $prev c ON x.sub = c.sub),
        |codes_t$i AS (SELECT sub, code, sv FROM (
        |  SELECT sub, code, sv,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
        |  FROM asg_t$i) WHERE rn = 1),
        |exq_t$i AS (SELECT sub, code, generate_subscripts(sv, 1) - 1 AS dim,
        |    CAST(FLOOR(unnest(sv) * 8796093022208.0) AS BIGINT) AS qv
        |  FROM codes_t$i),
        |tv_t$i AS (SELECT sub, code, list(mean ORDER BY dim) AS tv FROM (
        |  SELECT sub, code, dim,
        |    CAST(SUM(qv) AS DOUBLE) / 8796093022208.0 / COUNT(*) AS mean
        |  FROM exq_t$i GROUP BY sub, code, dim) GROUP BY sub, code),
        |cb_t$i AS (SELECT p.sub, p.code, COALESCE(t.tv, p.cv) AS cv
        |  FROM $prev p LEFT JOIN tv_t$i t ON p.sub = t.sub AND p.code = t.code)""".stripMargin
    }
    (frags.mkString(",\n"), s"cb_t$iters")
  }
  private val PqTrainIters = 2

  // ---------------------------------------------------------------
  // q146 — PRODUCT-QUANTIZED ANN with an in-plan recall floor: the
  // billion-vector compression the int8 path (q135) cannot reach —
  // each 64-dim vector reduced to m = 4 sub-space codes (8 centroids
  // per sub-space, TRAINED by two per-subspace Lloyd rounds from the
  // vec_id<8 seeds — [[Similarity.pqTrainedCodebook]], the q67
  // fixed-point discipline, so the trained centroids themselves are
  // bit-reproducible cross-engine), retrieval via the ADC table (per
  // query: 4×8 sub-distances precomputed once, each coded vector
  // scored by 4 lookups). Every rankable number is FIXED-POINT
  // (floor(d²·2³⁰) longs summed exactly), so codes, ADC scores,
  // ranks, and the recall audit all hash-match the oracle. Recall@5
  // vs the exact squared-L2 brute force is audited per query; the
  // floor (1/5 — the per-query minimum observed across
  // sf0.001/0.01/0.1, trained or seed-based: on these embeddings
  // with NO planted neighbor structure the exact top-5 is continuum
  // noise, so recall-vs-exact is resolution-limited at m=4/8 codes
  // and training moves distortion ~30%, not this metric; q150 runs
  // the SAME trained pipeline on a planted-cluster fixture where its
  // floor binds at 5/5) fails the run in-plan if training, PQ
  // coding, or the ADC table regresses to zero overlap.
  private val PqRecallFloorHits = 1L
  /** q146/q176's PQ codebook trained on the seed vectors 0..7.
    * TRAIN ONCE, SERVE MANY: the trained codebook is model state
    * ([[graft.operators.ModelStore]]) — production trains once and
    * serves from the persisted artifact, and the bench's timed runs
    * measure SERVING (round-10's measured q146 medians tripled because
    * training re-ran inside every timed query). Training is
    * bit-reproducible, so the cached serve is value-identical to
    * training inline, and the oracle (which retrains in SQL every run)
    * still hash-matches. q175 gates + times the training run itself. */
  private def q146Codebook(s: SparkSession, dir: String,
      e: DataFrame): DataFrame =
    graft.operators.ModelStore.cached(s, s"q146_cb:$dir") {
      Similarity.pqTrainedCodebook(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", dim = 64, m = 4, iters = PqTrainIters)
    }
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 10)
    val cb = q146Codebook(s, dir, e)
    val adc = Similarity.pqAdcTopK(e, queries, cb, "vec_id", "embedding",
      dim = 64, m = 4, k = 5)
    recallAudited(e, queries, adc, PqRecallFloorHits, "PQ ADC")
  }
  private val q146Sql =
    s"""$embeddingsE
      |${pqAdcSql(8)},
      |topk AS ($top5Sql),
      |$recallAuditSql""".stripMargin

  // ---------------------------------------------------------------
  // q148 — IVF-PQ: the production billion-vector index (FAISS's
  // IVFPQ shape) — coarse inverted lists (8 seed centroids,
  // squared-L2 assignment) with PRODUCT-QUANTIZED RESIDUALS (m = 4
  // sub-spaces, codebook seeded from vectors 8..15's residuals — the
  // coarse seeds' own residuals are zero and would degenerate — then
  // TRAINED by two per-subspace Lloyd rounds over ALL residuals,
  // [[Similarity.pqTrainedCodebook]]). A query probes its nProbe = 2
  // nearest lists and scores ONLY their members — the corpus
  // fraction touched is nProbe/lists, the IVF point — via a
  // per-(query, list) ADC table built from the query's list-relative
  // residual. Residual arithmetic is element-wise double subtraction
  // (exact both engines); distances are the fixed-point longs of
  // q146 and trained centroids are exact fixed-point means, so
  // codes, scores, ranks, and the recall audit hash-match. Floor =
  // per-query min across sf0.001/0.01/0.1 with trained codebooks,
  // in-plan.
  private val IvfPqRecallFloorHits = 1L
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val IvfPq(e, coarse, resSeeds, queries, rcb) = ivfPqFixture(s, dir)
    val adc = Similarity.ivfPqTopK(e, queries, coarse, resSeeds,
      "vec_id", "embedding", dim = 64, m = 4, nProbe = 2, k = 5,
      trainIters = PqTrainIters, residualCodebook = Some(rcb))
    recallAudited(e, queries, adc, IvfPqRecallFloorHits, "IVF-PQ")
  }
  private val q148Sql =
    s"""$embeddingsE
      |${ivfPqSql(resSeedsBelow = 16, nProbe = 2)}
      |${ivfScSql("codes")},
      |topk AS ($top5Sql),
      |$recallAuditSql""".stripMargin

  // ---------------------------------------------------------------
  // q179 — IVF-PQ SERVING FROM THE LIST-PARTITIONED INDEX: q176's
  // code-store discipline applied to the full IVF-PQ shape
  // ([[graft.operators.Similarity.writeIvfPqIndex]] /
  // [[Similarity.ivfPqTopKFromStore]]). The index rows
  // (id, list_id, sub, code) are BatchStore-committed PARTITIONED BY
  // list_id, and a serve turns its probed list ids into a partition
  // filter — unprobed lists' directories are never opened: the
  // "nProbe/lists of the corpus" claim as on-disk pruning, pinned in
  // Round11Spec (partition count + value-equality with the
  // in-memory q148 path). Coarse centroids and the trained residual
  // codebook are the frozen artifacts (ModelStore, shared with
  // q148 — one training per session); the oracle is the q148 chain
  // through its topk CTE (store union == in-memory coding).
  private def q179(s: SparkSession, dir: String): DataFrame = {
    val IvfPq(e, coarse, _, queries, rcb) = ivfPqFixture(s, dir)
    StoreGates.withTempStore(s, "graft_q179_ivfpq") { root =>
      // independent appends (distinct batch ids) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 2 === 0),
          coarse, rcb, "vec_id", "embedding", dim = 64, m = 4, root,
          batchId = 1L),
        () => Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 2 === 1),
          coarse, rcb, "vec_id", "embedding", dim = 64, m = 4, root,
          batchId = 2L)))
      Similarity.ivfPqTopKFromStore(s, root, queries, coarse, rcb,
          "vec_id", "embedding", dim = 64, m = 4, nProbe = 2, k = 5)
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  /** The q179 serving oracle, parameterized by a predicate on the
    * CODES side (q187 re-uses the chain with the deleted vectors'
    * codes filtered out — exactly what a correct tombstone mask /
    * purge must equal). */
  private def ivfPqStoreSql(codesWhere: String): String =
    s"""$embeddingsE
      |${ivfPqSql(resSeedsBelow = 16, nProbe = 2)}
      |live AS (SELECT * FROM codes $codesWhere),
      |${ivfScSql("live")}
      |$top5Sql
      |ORDER BY query_id, rank""".stripMargin
  private val q179Sql = ivfPqStoreSql(codesWhere = "")

  // ---------------------------------------------------------------
  // q186 — STREAMED IVF-PQ INDEX MAINTENANCE ([[graft.operators
  // .Similarity.ivfPqIndexSink]]): q179's index maintained by a
  // STREAMING job — embeddings staged as two parquet files, delivered
  // one per micro-batch through the checkpointed file source, each
  // epoch coded against the FROZEN coarse/residual artifacts and
  // committed as a list-partitioned batch (exactly-once: one dir per
  // epoch, committed epochs no-op on replay). Coding is stateless
  // across vectors, so serving is independent of epoch chunking and
  // the oracle is q179's SQL verbatim.
  private def q186(s: SparkSession, dir: String): DataFrame = {
    val IvfPq(e, coarse, _, queries, rcb) = ivfPqFixture(s, dir)
    StoreGates.withStreamedStore(s, "graft_q186",
      slices = Seq(e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1)),
      sink = store => Similarity.ivfPqIndexSink(coarse, rcb,
        "vec_id", "embedding", dim = 64, m = 4, store)) { store =>
      Similarity.ivfPqTopKFromStore(s, store, queries, coarse, rcb,
          "vec_id", "embedding", dim = 64, m = 4, nProbe = 2, k = 5)
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  private val q186Sql = q179Sql

  // ---------------------------------------------------------------
  // q187 — VECTOR DELETES IN THE SERVED IVF-PQ INDEX ([[graft
  // .operators.Similarity.deleteFromIvfPqIndex]] / [[Similarity
  // .purgeIvfPqIndex]]): the q180 takedown lifecycle on the ANN side
  // — an erased document's embedding is as much personal data as its
  // text. Build the q179 index, DELETE every odd vector (tombstone
  // ids only — no sidecar: the index carries no corpus stats), serve
  // (masked AFTER the partition filter), PURGE (list-partitioned
  // rewrite — the compacted batch keeps the directory layout probed
  // serving depends on), serve again; the two servings must be
  // identical in-plan. Oracle: q179's chain with the deleted
  // vectors' codes filtered out.
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val IvfPq(e, coarse, _, queries, rcb) = ivfPqFixture(s, dir)
    StoreGates.withTempStore(s, "graft_q187_ivfpq") { root =>
      Similarity.writeIvfPqIndex(e, coarse, rcb,
        "vec_id", "embedding", dim = 64, m = 4, root, batchId = 1L)
      Similarity.deleteFromIvfPqIndex(
        e.filter(col("vec_id") % 2 === 1).select(col("vec_id")),
        "vec_id", root, batchId = 2L)
      def serve() = Similarity.ivfPqTopKFromStore(s, root, queries, coarse,
          rcb, "vec_id", "embedding", dim = 64, m = 4, nProbe = 2, k = 5)
        .transform(Checkpoints.pin)
      val masked = serve()
      Similarity.purgeIvfPqIndex(s, root, "vec_id", newBatchId = 3L)
      val purged = serve()
      StoreGates.compactionIdentityGate(masked, purged,
          "purge changed served IVF-PQ results")
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  private val q187Sql = ivfPqStoreSql(codesWhere = "WHERE vec_id % 2 = 0")

  // ---------------------------------------------------------------
  // q175 — PQ CODEBOOK TRAINING as its own gated, TIMED unit: the
  // two per-subspace Lloyd rounds q146 serves from, run end-to-end
  // and emitted as the trained codebook itself (long format —
  // (sub, code, dim, component); components are exact fixed-point
  // means, so the whole artifact hash-matches DuckDB's unrolled
  // replay). This is the round-10 verdict's train/serve split made
  // visible: q146/q148 bench medians now measure SERVING from the
  // model store, and THIS query is the training cost, its own
  // number in the bench. Deliberately uncached — it must train
  // every run.
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val seeds = e.filter(col("vec_id") < 8)
    Similarity.pqTrainedCodebook(e, seeds, "vec_id", "embedding",
        dim = 64, m = 4, iters = PqTrainIters)
      .select(col("sub").cast("long").as("sub"), col("code"),
        posexplode(col("cv")).as(Seq("dim", "c")))
      .select(col("sub"), col("code"), col("dim").cast("long").as("dim"),
        col("c"))
      .orderBy(col("sub"), col("code"), col("dim"))
  }
  private val q175Sql = {
    val (trainCtes, cbFinal) = pqTrainSql("xs", "cb0", PqTrainIters)
    s"""$embeddingsE
      |${pqSlicesSql(8)}
      |$trainCtes
      |SELECT sub, code, CAST(generate_subscripts(cv, 1) - 1 AS BIGINT) AS dim,
      |  unnest(cv) AS c
      |FROM $cbFinal ORDER BY sub, code, dim""".stripMargin
  }

  // ---------------------------------------------------------------
  // q176 — PQ ADC SERVING FROM THE PERSISTED CODE STORE: the other
  // half of the q146/q175 train/serve split. The trained codebook
  // (ModelStore, shared with q146 — one training per session) codes
  // two corpus deltas into a [[graft.operators.BatchStore]]-committed
  // index ([[graft.operators.Similarity.writePqIndex]]), and the
  // query is served ENTIRELY from the code store
  // ([[Similarity.pqAdcTopKFromStore]]): the corpus embedding column
  // is never read again — a served query costs the broadcast ADC
  // table plus one pass over m·N small code rows (Round11Spec pins
  // the store scan's ReadSchema carries no embedding and the result
  // equals the in-memory path exactly). Oracle = the q146 chain
  // through its topk CTE: codes from the retrained codebook are
  // batch-independent, so store union == in-memory coding.
  private def q176(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 10)
    val cb = q146Codebook(s, dir, e)
    StoreGates.withTempStore(s, "graft_q176_pqindex") { root =>
      // independent appends (distinct batch ids) — overlap (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => Similarity.writePqIndex(e.filter(col("vec_id") % 2 === 0), cb,
          "vec_id", "embedding", dim = 64, m = 4, root, batchId = 1L),
        () => Similarity.writePqIndex(e.filter(col("vec_id") % 2 === 1), cb,
          "vec_id", "embedding", dim = 64, m = 4, root, batchId = 2L)))
      Similarity.pqAdcTopKFromStore(s, root, queries, cb,
          "vec_id", "embedding", dim = 64, m = 4, k = 5)
        .orderBy(col("query_id"), col("rank"))
        .transform(Checkpoints.pin)
    }
  }
  private val q176Sql =
    s"""$embeddingsE
      |${pqAdcSql(8)}
      |$top5Sql
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q150 — trained-PQ retrieval on a PLANTED-cluster fixture: the
  // quality gate whose floor actually BINDS. The driver embeddings
  // have no neighbor structure (max pairwise cosine ≈ 0.60), so
  // q146/q148's recall-vs-exact floors sit at their degenerate
  // minimum (1/5) however good the codebook; here the corpus is
  // GENERATED IN-QUERY — 50 planted clusters × 10 members, member =
  // center + jitter, both md5-derived ([[graft.ScaleGen
  // .plantedEmbeddings]]) so DuckDB regenerates the identical floats
  // from its own md5 — and quality is scored as CLUSTER-MATE
  // precision@5 (how many of the 5 returned neighbors share the
  // query's true cluster; exact-top-5 overlap would measure
  // within-cluster ordering, which PQ erases by design — mates code
  // identically and tie-rank by id). With a 32-code codebook TRAINED
  // 2 rounds ([[Similarity.pqTrainedCodebook]]) every query scores
  // 5/5 — the in-plan floor; the UNTRAINED seed codebook scores
  // min 3 (TrainedPqSpec pins the gap), so removing training fails
  // this gate loudly. Codes, ADC scores, ranks, and the mate audit
  // all hash-match the oracle (fixed-point ADC + exact fixed-point
  // trained centroids, the q146 discipline).
  private val PlantedMateFloorHits = 5L
  private def q150(s: SparkSession, dir: String): DataFrame = {
    // fixture, not a table read: deterministic, engine-reproducible
    val e = graft.ScaleGen.plantedEmbeddings(s, clusters = 50,
      perCluster = 10, dim = 64, noise = 1.0).transform(Checkpoints.pin)
    val queries = e.filter(col("vec_id") < 10)
    val seeds = e.filter(col("vec_id") < 32)
    val cb = Similarity.pqTrainedCodebook(e, seeds, "vec_id", "embedding",
      dim = 64, m = 4, iters = PqTrainIters)
    val adc = Similarity.pqAdcTopK(e, queries, cb, "vec_id", "embedding",
      dim = 64, m = 4, k = 5)
    mateAudited(e, adc, PlantedMateFloorHits, "trained-PQ")
  }
  private val q150Sql =
    s"""$plantedE
      |${pqAdcSql(32)},
      |topk AS ($top5Sql),
      |$mateAuditSql""".stripMargin

  // ---------------------------------------------------------------
  // q152 — IVF-PQ on the PLANTED-cluster fixture: q148's production
  // index (coarse lists + trained residual PQ + nProbe=2 probing)
  // measured where its quality floor actually BINDS — the q150
  // fixture (50 clusters × 10, md5-derived, regenerated identically
  // by DuckDB) and the same CLUSTER-MATE precision@5 metric. This is
  // the gate q148 cannot be: on the structure-free driver embeddings
  // its recall floor is a degenerate minimum; here a probing or
  // residual-coding regression (wrong list probed, residual computed
  // against the wrong centroid, codebook untrained) surfaces as lost
  // mates. The IVF trade is visible and pinned: unlike q150's
  // exhaustive ADC (5/5), probing 3 of 8 coarse lists can miss a
  // mate whose jitter crossed a coarse boundary — the measured floor
  // is 3/5 (min over the 10 gate queries; mean 4.2) with the 32-code
  // 2-round-trained residual codebook, vs 1/5 untrained (SCALE.md
  // "Round-10: recall floors re-derived on planted neighbors") — so
  // training still carries the gate. All
  // arithmetic is the q148 fixed-point discipline; codes, scores,
  // ranks, and the mate audit hash-match the oracle.
  private val PlantedIvfMateFloorHits = 3L
  private def q152(s: SparkSession, dir: String): DataFrame = {
    // fixture, not a table read: deterministic, engine-reproducible
    val e = graft.ScaleGen.plantedEmbeddings(s, clusters = 50,
      perCluster = 10, dim = 64, noise = 1.0).transform(Checkpoints.pin)
    val coarse = e.filter(col("vec_id") < 8)
    val resSeeds = e.filter(col("vec_id") >= 8 && col("vec_id") < 40)
    val queries = e.filter(col("vec_id") < 10)
    val adc = Similarity.ivfPqTopK(e, queries, coarse, resSeeds,
      "vec_id", "embedding", dim = 64, m = 4, nProbe = 3, k = 5,
      trainIters = PqTrainIters)
    mateAudited(e, adc, PlantedIvfMateFloorHits, "IVF-PQ")
  }
  private val q152Sql =
    s"""$plantedE
      |${ivfPqSql(resSeedsBelow = 40, nProbe = 3)}
      |${ivfScSql("codes")},
      |topk AS ($top5Sql),
      |$mateAuditSql""".stripMargin

  // ---------------------------------------------------------------
  // q165 — HARD-NEGATIVE MINING ([[Similarity.hardNegatives]]) on
  // the planted fixture: per query, the 3 most cosine-similar
  // vectors from a DIFFERENT cluster — the near-misses a contrastive
  // loss learns from (mates are positives; the label-mismatch
  // predicate is fused into the broadcast scoring join, so exclusion
  // is by construction, and on THIS fixture it bites: the top raw
  // neighbors are mates, q150's 5/5). Brute scoring is the gate
  // baseline; candidate generation swaps for IVF/LSH at corpus
  // scale, exclusion and ranking unchanged.
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val e = graft.ScaleGen.plantedEmbeddings(s, clusters = 50,
      perCluster = 10, dim = 64, noise = 1.0).transform(Checkpoints.pin)
    Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
        "vec_id", "label", "embedding", k = 3)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q165Sql =
    s"""$plantedE
      |q AS (SELECT vec_id AS query_id, label AS ql, v AS qv FROM e
      |      WHERE vec_id < 10),
      |scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id, $dCos AS cosine
      |  FROM q CROSS JOIN (SELECT vec_id, label AS cl, v AS cv FROM e) e
      |  WHERE ql <> cl),
      |ranked AS (SELECT query_id, neighbor_id, cosine,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine FROM ranked
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q167 — RETRIEVAL QUALITY AS EXACT ARITHMETIC: mean-reciprocal-
  // rank ingredients for the planted fixture's brute retrieval — per
  // query, the rank of the FIRST cluster-mate in the top-5 and its
  // reciprocal-rank contribution ×60 (ranks 1..5 all divide 60, so
  // 60 DIV rank is an exact integer — no float sums whose order
  // could drift cross-engine; MRR = Σ(rr_x60)/60/n is one mirrored
  // division for the consumer). The metric pass every retrieval
  // change should re-run: a probing/codebook regression moves the
  // first-mate rank, and the gate sees it as integers.
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val e = graft.ScaleGen.plantedEmbeddings(s, clusters = 50,
      perCluster = 10, dim = 64, noise = 1.0).transform(Checkpoints.pin)
    val q = e.filter(col("vec_id") < 10)
    val lbl = e.select(col("vec_id"), col("label"))
    val firstMate = Similarity
      .bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .join(lbl.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "ql"), "query_id")
      .join(lbl.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "nl"), "neighbor_id")
      .filter(col("ql") === col("nl"))
      .groupBy(col("query_id")).agg(min(col("rank")).as("first_mate_rank"))
    q.select(col("vec_id").as("query_id"))
      .join(firstMate, Seq("query_id"), "left")
      .withColumn("rr_x60", coalesce(
        expr("60 DIV first_mate_rank"), lit(0L)))
      .orderBy(col("query_id"))
  }
  private val q167Sql =
    s"""$plantedE
      |q AS (SELECT vec_id AS query_id, label AS ql, v AS qv FROM e
      |      WHERE vec_id < 10),
      |scored AS (
      |  SELECT query_id, ql, e.vec_id AS neighbor_id, e.label AS nl,
      |    $dCos AS cosine
      |  FROM q CROSS JOIN (SELECT vec_id, label, v AS cv FROM e) e
      |  WHERE query_id <> e.vec_id),
      |ranked AS (SELECT query_id, ql, neighbor_id, nl,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored),
      |fm AS (SELECT query_id, CAST(MIN(rank) AS BIGINT) AS first_mate_rank
      |  FROM ranked WHERE rank <= 5 AND ql = nl GROUP BY query_id)
      |SELECT q.query_id, fm.first_mate_rank,
      |  COALESCE(60 // fm.first_mate_rank, 0) AS rr_x60
      |FROM q LEFT JOIN fm USING (query_id)
      |ORDER BY q.query_id""".stripMargin

  // ---------------------------------------------------------------
  // q225 — PROTOTYPE PRUNING ([[graft.operators.Similarity
  // .prototypePrune]], the SSL-prototypes / SemDeDup keep policy):
  // assign every embedding to its nearest seed centroid (the q51
  // argmax), rank members within each cluster by cosine-to-centroid
  // ASCENDING (least prototypical first — the hard, diverse tail),
  // keep rank <= ceil(0.5·n). Assignment is the broadcast map-side
  // pass; the rank is ONE shuffle on centroid_id. The oracle replays
  // argmax, per-cluster rank, and the ceil cut with the same double
  // cosine arithmetic (the q34/q67 cross-engine identity).
  private def q225(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.prototypePrune(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", keepFrac = 0.5)
      .select(col("vec_id"), col("centroid_id"), col("proto_rank"),
        col("n_members"), col("centroid_cosine"))
      .orderBy(col("centroid_id"), col("proto_rank"))
  }
  private val q225Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |scored AS (
      |  SELECT e.vec_id, c.cid,
      |    list_inner_product(e.v, cv)
      |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(cv, cv))) AS cos
      |  FROM e CROSS JOIN c
      |  WHERE sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(cv, cv)) > 0),
      |best AS (SELECT vec_id, cid, cos FROM (
      |  SELECT vec_id, cid, cos,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |  FROM scored) WHERE rn = 1),
      |rk AS (SELECT vec_id, cid, cos,
      |    row_number() OVER (PARTITION BY cid ORDER BY cos ASC, vec_id) AS proto_rank,
      |    COUNT(*) OVER (PARTITION BY cid) AS n_members
      |  FROM best)
      |SELECT vec_id, cid AS centroid_id, proto_rank,
      |  CAST(n_members AS BIGINT) AS n_members, cos AS centroid_cosine
      |FROM rk WHERE proto_rank <= CEIL(0.5 * n_members)
      |ORDER BY centroid_id, proto_rank""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q225_prototype_prune", q225, Some(q225Sql)),
    QueryDef("q152_ivfpq_planted", q152, Some(q152Sql)),
    QueryDef("q165_hard_negatives", q165, Some(q165Sql)),
    QueryDef("q167_retrieval_mrr", q167, Some(q167Sql)),
    QueryDef("q150_pq_trained_planted", q150, Some(q150Sql)),
    QueryDef("q146_pq_ann", q146, Some(q146Sql)),
    QueryDef("q148_ivfpq_ann", q148, Some(q148Sql)),
    QueryDef("q175_pq_train", q175, Some(q175Sql)),
    QueryDef("q176_pq_index_store", q176, Some(q176Sql)),
    QueryDef("q179_ivfpq_index_store", q179, Some(q179Sql)),
    QueryDef("q186_ivfpq_streamed", q186, Some(q186Sql)),
    QueryDef("q187_ivfpq_tombstones", q187, Some(q187Sql)),
    QueryDef("q123_semantic_dedup", q123, Some(q123Sql)),
    QueryDef("q34_ann_brute_force", q34, Some(q34Sql)),
    QueryDef("q75_quantize_int8", q75, Some(q75Sql)),
    QueryDef("q91_rp_lsh_neardup", q91, Some(q91Sql)),
    QueryDef("q35_ann_bucketed", q35, Some(q35Sql)),
    QueryDef("q36_embedding_neardup", q36, Some(q36Sql)),
    QueryDef("q51_ivf_assign", q51, Some(q51Sql)),
    QueryDef("q52_ivf_multiprobe", q52, Some(q52Sql)),
    QueryDef("q110_ivf_recall", q110, Some(q110Sql)),
    QueryDef("q135_int8_topk", q135, Some(q135Sql)),
    QueryDef("q136_int8_recall", q136, Some(q136Sql)),
    QueryDef("q67_kmeans_step", q67, Some(q67Sql)),
  )
}
