package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextFunctions.{hash60, tokens}

/** MODEL-FREE sparse semantic-ish retrieval via the signed hashing
  * trick (Weinberger et al., "Feature Hashing for Large Scale
  * Multitask Learning"): each token hashes to one of `dim` buckets
  * with a ±1 sign from an independent hash bit, so a document becomes
  * a sparse integer vector whose inner products are unbiased
  * estimates of the full bag-of-words inner product — no vocabulary,
  * no trained embedder, no dictionary broadcast. The cosine between
  * two hashed vectors is the classic cheap retrieval baseline that
  * needs nothing but the corpus itself, and the natural fallback
  * wherever a dense-embedding column does not exist.
  *
  * Scale design (100 TB):
  *  - [[hashedTf]] is one explode + one (id, bucket) partial-agg
  *    shuffle — map-side combine eats the token volume; output is
  *    min(dim, distinct tokens) rows per doc.
  *  - [[cosineTopK]] computes SPARSE dots by joining on `bucket`:
  *    the query side is broadcast (query sets are small), so the
  *    corpus side never shuffles for the join; the (query, doc)
  *    partial products map-side-combine into the dot. Norms are
  *    exact integer sums computed once per side. The rank keeps the
  *    `InferWindowGroupLimit` shape (map-side partial top-k below
  *    the exchange — the [[Similarity.bruteForceTopK]] discipline).
  *  - All weights/dots/norm² are EXACT integers; only the final
  *    cosine divides in doubles — bit-identical cross-engine (the
  *    q34 discipline), so the whole retrieval is oracle-replayable.
  */
object FeatureHashing {

  /** Signed hashed term frequencies: one row per (id, bucket) with
    * integer `weight` = Σ ±1 over the doc's tokens landing in the
    * bucket. Zero-weight rows (sign cancellation) are dropped — they
    * contribute nothing to any inner product and sparsify the
    * output. */
  /** Column names the operators here claim internally or emit — an id
    * column shadowing one would fail ambiguously or, worse, join
    * silently wrong (the [[Packing.packSequences]] reserved-name
    * discipline). */
  private val Reserved = Seq("bucket", "weight", "cosine", "rank",
    "__tok", "__sign", "__cw", "__qw", "__cn2", "__qn2", "__dot")

  private def requireUnreserved(what: String, name: String): Unit =
    require(!Reserved.contains(name),
      s"$what must not be one of ${Reserved.mkString("/")} (got $name) — " +
        "these names are claimed by the feature/retrieval frames")

  def hashedTf(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, s"need dim > 0, got $dim")
    requireUnreserved("idCol", idCol)
    df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol),
        pmod(hash60(col("__tok")), lit(dim.toLong)).as("bucket"),
        when(pmod(hash60(concat(lit("s:"), col("__tok"))), lit(2L)) === 0,
          lit(1L)).otherwise(lit(-1L)).as("__sign"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__sign")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** UNHASHED bag-of-words counts — the exactness truth for measuring
    * the hashing trick's approximation: the token itself is the
    * "bucket" (weight = its count), so [[cosineTopK]] over these
    * features computes the exact TF cosine the hashed vectors
    * estimate. Costs a string-keyed shuffle where [[hashedTf]]
    * shuffles bounded integer keys — that trade IS what the hashing
    * trick buys at 100 TB (dim-bounded key space, fixed-width rows,
    * no vocabulary skew), and the recall gate (q234) measures what it
    * costs in ranking fidelity. */
  def exactTf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireUnreserved("idCol", idCol)
    df.select(col(idCol), explode(tokens(col(textCol))).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("weight"))
  }

  /** Exact top-`k` hashed-cosine neighbors of each query over the
    * corpus features (both sides in [[hashedTf]]'s (id, bucket,
    * weight) shape). The query side must be broadcast-sized. Output:
    * queryIdCol, rank, corpusIdCol, cosine — ties break on the lower
    * corpus id. Docs/queries with no surviving feature rows (all
    * signs cancelled) simply produce no pairs. */
  def cosineTopK(corpusFeats: DataFrame, queryFeats: DataFrame,
      corpusIdCol: String, queryIdCol: String, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(corpusIdCol != queryIdCol,
      "corpusIdCol and queryIdCol must differ (they meet in one row)")
    requireUnreserved("corpusIdCol", corpusIdCol)
    requireUnreserved("queryIdCol", queryIdCol)
    val cn = corpusFeats.groupBy(col(corpusIdCol))
      .agg(sum(col("weight") * col("weight")).as("__cn2"))
    val qn = queryFeats.groupBy(col(queryIdCol))
      .agg(sum(col("weight") * col("weight")).as("__qn2"))
    val dots = corpusFeats
      .select(col(corpusIdCol), col("bucket"), col("weight").as("__cw"))
      .join(broadcast(queryFeats
        .select(col(queryIdCol), col("bucket"), col("weight").as("__qw"))),
        Seq("bucket"))
      .groupBy(col(queryIdCol), col(corpusIdCol))
      .agg(sum(col("__cw") * col("__qw")).as("__dot"))
    val scored = dots
      .join(cn, Seq(corpusIdCol)).join(broadcast(qn), Seq(queryIdCol))
      .withColumn("cosine", col("__dot").cast("double")
        / (sqrt(col("__cn2").cast("double"))
          * sqrt(col("__qn2").cast("double"))))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(desc("cosine"), col(corpusIdCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col(corpusIdCol), col("cosine"))
  }

  // ------------------------------------------ persisted feature store

  /** The store's `dim` rides the shared write-once meta protocol
    * ([[BatchStore.ensureIntMeta]]): a dim mismatch would not fail —
    * it would silently score zero overlap (buckets beyond the smaller
    * dim never meet) — so writes and serves validate against the
    * pinned value. */
  private def ensureDim(spark: org.apache.spark.sql.SparkSession,
      root: String, dim: Int): Unit =
    BatchStore.ensureIntMeta(spark, root, "_dim", "dim", dim)

  private def storedDim(spark: org.apache.spark.sql.SparkSession,
      root: String): Int =
    BatchStore.readIntMeta(spark, root, "_dim", "dim")

  /** Append one slice's hashed features to the persisted store —
    * (id, bucket, weight) rows, delta-sized; `dim` is pinned in the
    * `_dim` meta (see [[ensureDim]]). */
  def writeHashedStore(df: DataFrame, idCol: String, textCol: String,
      dim: Int, root: String, batchId: Long): Unit = {
    ensureDim(df.sparkSession, root, dim)
    BatchStore.append(hashedTf(df, idCol, textCol, dim), root, batchId)
  }

  /** Maintain the store FROM A STREAM — the exactly-once foreachBatch
    * epoch discipline ([[BatchStore.epochSink]]). Features are per-doc
    * rows, so the served retrieval is epoch-chunking-independent. */
  def hashedStoreSink(idCol: String, textCol: String, dim: Int,
      root: String): (DataFrame, Long) => Unit =
    BatchStore.epochSink(root)(writeHashedStore(_, idCol, textCol, dim, root, _))

  /** Tombstone `ids` out of every serve (mask-on-read,
    * delete-volume-sized — the shared [[Tombstones]] discipline;
    * registered in [[Erasure]] as `HashedTfStore`). */
  def deleteFromHashedStore(ids: DataFrame, idCol: String, root: String,
      batchId: Long): Unit =
    Tombstones.append(ids, idCol, root, batchId)

  /** Physically drop tombstoned feature rows and retire the applied
    * tombstones (maintenance window). */
  def purgeHashedStore(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String, newBatchId: Long): Int =
    Tombstones.purge(spark, root, idCol, newBatchId)

  /** Serve top-`k` hashed-cosine retrieval FROM the store: queries are
    * hashed at the store's pinned dim (a caller cannot mismatch),
    * the store read is tombstone-masked BEFORE ranking, and the
    * result is materialized (the FromStore contract — the caller owns
    * the returned pin). */
  def hashedTopKFromStore(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, queryIdCol: String,
      textCol: String, corpusIdCol: String, k: Int): DataFrame = {
    val dim = storedDim(spark, root)
    val feats = Tombstones(spark, root,
      BatchStore.read(spark, root)
        .select(col(corpusIdCol), col("bucket"), col("weight")),
      corpusIdCol)
    cosineTopK(feats,
      hashedTf(queries, queryIdCol, textCol, dim),
      corpusIdCol, queryIdCol, k).transform(Checkpoints.pin)
  }
}
