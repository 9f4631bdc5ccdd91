package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** One row of the generated `documents.parquet` (the fixture's schema). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Seeded corpus shaped like the sf0.1 `documents.parquet` fixture, so the
  * same seed always yields the same inputs:
  *  - word-soup texts of 10–99 tokens drawn uniformly from the fixture's
  *    30-word vocabulary (fixture text length: 44–577 chars, median 295);
  *  - one document in 20 is a planted near-duplicate: another document's
  *    text plus " dup", as in the fixture;
  *  - the fixture's language mix (en 40%, de/es/fr/zh 15% each) and
  *    `source = src{doc_id % 20}`;
  *  - `doc_id` contiguous from 0, which `LinkOps` and the planted crawl
  *    signals assume.
  */
object Corpus {
  val Dim = 64

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array.fill(8)("en") ++ Seq("de", "es", "fr", "zh").flatMap(Seq.fill(3)(_))

  private def words(rnd: java.util.SplittableRandom, n: Int): String =
    Iterator.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")

  def docs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed)
    val base = IndexedSeq.fill(n)(words(rnd, 10 + rnd.nextInt(90)))
    (0 until n).map { i =>
      val text =
        if (rnd.nextInt(20) == 0) base((i + 1 + rnd.nextInt(n - 1)) % n) + " dup"
        else base(i)
      Doc(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }

  /** A user question: 4–15 corpus words. */
  def queryText(rnd: java.util.SplittableRandom): String = words(rnd, 4 + rnd.nextInt(12))

  /** `documents.parquet` in `files` contiguous doc_id ranges. */
  def writeDocuments(spark: SparkSession, dir: String, seed: Long, n: Int, files: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs(seed, n), files).toDF()
      .write.parquet(s"$dir/documents.parquet")
  }

  /** `out/embeddings.parquet` in the fixture's schema, written by the
    * program's own embedder from `corpus/documents.parquet`, so retrieval
    * scores the same corpus it cites.
    */
  def writeEmbeddings(spark: SparkSession, corpus: String, out: String): Unit =
    graft.operators.TextAnalysisOps.embedVectors(spark, corpus, Dim)
      .select(col("doc_id").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        pmod(col("doc_id"), lit(10L)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

  /** A text embedded the way `TextAnalysisOps.embedVectors` embeds a
    * document: the `FeatureHash` kernel, then division by the L2 norm
    * summed in element order (a zero vector stays zero).
    */
  def embed(text: String): Array[Double] = {
    val raw = graft.plans.FeatureHash.embed(UTF8String.fromString(text), Dim).toDoubleArray()
    val norm = math.sqrt(raw.foldLeft(0.0)((acc, x) => acc + x * x))
    if (norm == 0.0) raw else raw.map(_ / norm)
  }
}
