package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextFunctions._

/** Benchmark decontamination: flag training documents that share any
  * word-n-gram with an evaluation/benchmark set — the standard overlap
  * check run before training so eval scores measure generalization,
  * not memorization of leaked test items.
  *
  * Scale design (100 TB corpus, benchmark sets of 1e3–1e6 docs):
  *  - The EVAL side is tiny by construction; its distinct hashed
  *    n-gram set (one long per gram) is broadcast — the corpus-side
  *    probe is then a map-side broadcast semi join: ONE pass over the
  *    training corpus, no corpus shuffle at all.
  *  - Grams are hashed longs ([[TextFunctions.hashedShingles]] — md5
  *    once per TOKEN, gram hashes combined arithmetically), not
  *    strings: no per-gram string allocation or ~n× corpus md5 bytes
  *    on the hot side, the broadcast table stays 8 bytes/gram, and
  *    equality is a long compare.
  *  - The corpus side explodes grams only into the join (no
  *    materialized gram table); Catalyst plans
  *    generate → broadcast-semi-join → distinct-on-id, with the
  *    distinct the only shuffle (on contaminated ids — a small set).
  */
object Decontaminate {

  /** Distinct hashed word-`n`-gram shingles of `textCol`. */
  private def grams(df: DataFrame, cols: Seq[String], textCol: String, n: Int) =
    df.select(cols.map(col) :+
      hashedShingles(tokens(col(textCol)), n).as("__grams"): _*)

  /** `train` plus a boolean `flagCol`: true iff the doc shares at
    * least one word-`n`-gram with any `eval` doc. Rows of `train` are
    * preserved 1:1 (docs too short to shingle flag false). */
  def flagContaminated(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int, flagCol: String = "is_contaminated"): DataFrame = {
    // Fail fast instead of emitting duplicate/ambiguous columns: a
    // frame that already carries flagCol (e.g. re-running the flagger
    // on its own output) would get a second one from the left join,
    // and an idCol named like the internal gram columns would collide
    // inside the probe plan.
    require(!train.columns.contains(flagCol),
      s"train already has a '$flagCol' column — drop or rename it before flagging")
    val internal = Seq("g", "__grams")
    require(!internal.contains(idCol) && idCol != flagCol,
      s"idCol '$idCol' collides with an internal/output column (${(internal :+ flagCol).mkString("/")})")
    val evalGrams = grams(eval, Seq.empty, textCol, n)
      .select(explode(col("__grams")).as("g")).distinct()
    val contaminated = grams(train, Seq(idCol), textCol, n)
      .select(col(idCol), explode(col("__grams")).as("g"))
      .join(broadcast(evalGrams), "g", "left_semi")
      .select(col(idCol)).distinct()
      .withColumn(flagCol, lit(true))
    train.join(contaminated, Seq(idCol), "left")
      .withColumn(flagCol, coalesce(col(flagCol), lit(false)))
  }

  /** SEMANTIC decontamination: flag training documents whose
    * embedding cosine against ANY eval doc reaches `threshold` — the
    * paraphrase-contamination detector [[flagContaminated]]'s exact
    * n-gram overlap cannot be (an eval item rephrased in a training
    * doc shares meaning-space, not necessarily any exact gram).
    * Encoder = [[TextFunctions.hashEmbed]] (the deterministic stub;
    * swap for a model encoder without changing the plan shape).
    *
    * Same scale asymmetry as the gram flagger: the EVAL side is tiny
    * by construction and broadcasts; the corpus pass is one map-side
    * scoring sweep (|eval| codegen'd dot products per doc) whose
    * per-doc max collapses in the partial aggregate — the only
    * shuffle carries one row per flagged doc. The train embedding
    * frame has a SINGLE consumer (the scoring pass; the 1:1 flag
    * join reads the raw `train` frame), so no materialization
    * barrier is needed — the encoder runs once per row regardless.
    * The flagged-set join carries NO broadcast hint: on a badly
    * contaminated corpus the flagged side is corpus-scale, and a
    * forced broadcast would ship it to every executor; AQE picks
    * broadcast at runtime when the set is actually small.
    *
    * Returns `train` 1:1 plus `flagCol` and `max_eval_cosine` (null
    * for unflagged docs; zero-norm docs flag false). */
  def flagSemanticContaminated(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, dim: Int, threshold: Double,
      flagCol: String = "is_sem_contaminated"): DataFrame = {
    require(!train.columns.contains(flagCol),
      s"train already has a '$flagCol' column — drop or rename it before flagging")
    val internal = Seq("__emb", "__nrm", "__ev", "__en", "__cos", "max_eval_cosine")
    require(!internal.contains(idCol) && idCol != flagCol,
      s"idCol '$idCol' collides with an internal/output column")
    def norm(c: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(c, x => x * x), lit(0.0), (a, v) => a + v))
    val tEmb = train.select(col(idCol), hashEmbed(col(textCol), dim).as("__emb"))
      .withColumn("__nrm", norm(col("__emb")))
    val eEmb = eval.select(hashEmbed(col(textCol), dim).as("__ev"))
      .withColumn("__en", norm(col("__ev"))).filter(col("__en") > 0)
    val flagged = tEmb.filter(col("__nrm") > 0)
      .crossJoin(broadcast(eEmb))
      .withColumn("__cos",
        aggregate(zip_with(col("__emb"), col("__ev"), (x, y) => x * y),
          lit(0.0), (a, v) => a + v) / (col("__nrm") * col("__en")))
      .groupBy(col(idCol)).agg(max(col("__cos")).as("max_eval_cosine"))
      .filter(col("max_eval_cosine") >= threshold)
      .withColumn(flagCol, lit(true))
    train.join(flagged, Seq(idCol), "left")
      .withColumn(flagCol, coalesce(col(flagCol), lit(false)))
  }

  /** Decontaminate a STREAM of arriving training docs — the ingest
    * shape: the corpus lands continuously and each doc must carry its
    * contamination flag BEFORE it reaches the training pool, not in a
    * nightly batch re-scan. A `foreachBatch` sink: per-doc flagging is
    * stateless across training docs (the eval set is the only shared
    * state, and it is a static broadcast), so each micro-batch runs
    * [[flagContaminated]] independently and commits `keep` + the flag
    * via the [[BatchStore]] stage-and-rename protocol. Results are
    * therefore independent of how the source chunks docs into epochs
    * (union semantics — the q166 argument), and the sink is
    * EXACTLY-ONCE under at-least-once epoch replay
    * ([[BatchStore.epochSink]]: one dir per epoch — no two-dir crash
    * window to heal, unlike the posting-store sink). */
  def contaminationSink(eval: DataFrame, idCol: String, textCol: String,
      n: Int, root: String, keep: Seq[String]): (DataFrame, Long) => Unit =
    BatchStore.epochSink(root)((batch, id) =>
      BatchStore.append(
        flagContaminated(batch, eval, idCol, textCol, n)
          .select((keep :+ "is_contaminated").map(col): _*),
        root, id))
}
