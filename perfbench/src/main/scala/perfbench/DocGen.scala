package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded `documents` corpus in the shape of the library's `documents`
  * table (`doc_id, text, lang, source, n_chars`): 10–100 words drawn
  * uniformly from a 30-word vocabulary, 20 sources, five languages.
  * Every 50th document repeats the previous one's text, so the dedup
  * gate has in-slice exact duplicates to drop. */
object DocGen {

  private val vocab = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  def docs(seed: Long, n: Int): Seq[Doc] = {
    val r = new SplittableRandom(seed * 7919 + 17)
    var prev = ""
    (0 until n).map { i =>
      val text = if (i % 50 == 49) prev
        else Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
      prev = text
      Doc(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }

  def frame(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    docs(seed, n).toDF().coalesce(1)
  }

  /** The stream the curation workload feeds, as in the library's
    * curation gates: each doc wrapped in per-source nav/footer
    * boilerplate, plus copies of every 11th doc (id + 10,000,000) that
    * arrive one epoch after their original. `__epoch` assigns docs to
    * `epochs` slices. */
  def stream(docs: DataFrame, epochs: Int): DataFrame = {
    val marked = docs.select(col("doc_id"), col("source"), concat(
      lit("<nav>menu "), col("source"), lit("</nav>\n<p>"),
      col("text"), lit("</p>\n<footer>(c) "), col("source"),
      lit("</footer>")).as("text"))
    val copies = marked
      .filter(col("doc_id") % 11 === 0 && col("doc_id") % epochs =!= epochs - 1)
      .select((col("doc_id") + lit(CopyOffset)).as("doc_id"), col("source"), col("text"))
    val epochOf = when(col("doc_id") < CopyOffset, col("doc_id") % epochs)
      .otherwise((col("doc_id") - CopyOffset) % epochs + 1)
    marked.unionByName(copies).withColumn("__epoch", epochOf)
  }

  val CopyOffset = 10000000L
}
