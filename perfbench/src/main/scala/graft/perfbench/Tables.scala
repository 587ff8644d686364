package graft.perfbench

import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The seeded `documents` table for the query sweep, the only table the
  * swept queries read. Its shape follows the repository's scale-0.1
  * driver table (5,000 documents):
  *
  *  - each document is 10 to 100 words (uniform), every word drawn
  *    uniformly from a 30-word vocabulary, so documents share many
  *    shingles and the similarity join has a dense candidate set;
  *  - 5% of the documents are near-duplicates: another document's text
  *    with the word "dup" appended;
  *  - `lang` is "en" for ~41% of the documents and one of four other
  *    languages otherwise; `source` cycles over 20 sources; `n_chars` is
  *    the text length.
  */
object Tables {

  private val words = Array("a", "the", "key", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "batch", "window", "spark",
    "order", "data", "column", "agg", "join", "small", "big", "line",
    "customer", "query", "filter", "merge", "stream", "group", "vector",
    "sort")
  private val otherLangs = Array("zh", "es", "fr", "de")

  /** Writes `<dir>/documents.parquet` with `nDocs` rows. */
  def write(spark: SparkSession, dir: String, seed: Long, nDocs: Int): Unit = {
    val r = new Random(seed)
    val texts = Array.fill(nDocs) {
      Array.fill(10 + r.nextInt(91))(words(r.nextInt(words.length)))
        .mkString(" ")
    }
    val nearDups = r.shuffle((0 until nDocs).toVector).take(nDocs / 20).toSet
    val rows = texts.indices.map { i =>
      val text =
        if (nearDups.contains(i)) texts((i + 1 + r.nextInt(nDocs - 1)) % nDocs) + " dup"
        else texts(i)
      val lang = if (r.nextInt(100) < 41) "en" else otherLangs(r.nextInt(4))
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    val schema = StructType(Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
      .map { case (c, t) => StructField(c, t) })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$dir/documents.parquet")
  }
}
