package perfbench

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.AirlineEntries
import graft.sources.Tables

/** Seeded inputs. The program only ever sees what these write: the same
  * seed gives byte-identical tables.
  */
object DataGen {

  /** `orders` with `n` distinct, increasing keys spaced like TPC-H's
    * (four slots per order, one taken at a seeded offset), then the
    * on-time table the program derives from it, written as CSV with a
    * header — the reference's input shape.
    */
  def airline(spark: SparkSession, dir: String, n: Long, seed: Long): Unit = {
    spark.range(n)
      .select((col("id") * 4 + 1 +
        pmod(xxhash64(col("id"), lit(seed)), lit(4L))).as("o_orderkey"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    AirlineEntries.syntheticFlights(Tables(spark, dir))
      .write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
  }

  // the documents fixture's vocabulary: 30 words, each about equally
  // frequent, plus the "dup" marker near copies carry
  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector",
    "line", "table", "data", "agg", "value", "key", "stream", "window",
    "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")
  private val OtherLangs = Seq("zh", "es", "fr", "de")

  /** `n` documents shaped like the repo's `documents` fixture (its
    * sf0.01 and sf0.1 tables, measured): 10-99 words drawn uniformly
    * from [[Vocab]]; 5% are near copies of another document (its text
    * plus " dup"), 0.16% exact copies; 41% `en`, the rest spread evenly
    * over zh/es/fr/de; source `src<doc_id % 20>`.
    */
  def documents(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val texts = Array.fill(n)(
      Seq.fill(10 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
    val copied = Array.fill(n)(false)
    for (i <- 0 until n) {
      val roll = rnd.nextDouble()
      if (roll < 0.0516) {
        // copy a document that is not itself a copy
        var j = rnd.nextInt(n)
        while (j == i || copied(j)) j = rnd.nextInt(n)
        texts(i) = if (roll < 0.0016) texts(j) else texts(j) + " dup"
        copied(i) = true
      }
    }
    val rows = texts.indices.map { i =>
      val lang = if (rnd.nextDouble() < 0.41) "en" else OtherLangs(rnd.nextInt(4))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** `n` vectors shaped like the `embeddings` fixture: 64 float32
    * components of a Gaussian draw scaled to unit length, and a label
    * 0-9 drawn uniformly (the fixture's labels carry no cluster).
    */
  def embeddings(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed * 131 + 17)
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Whether a row keyed `key` is in the seeded 20% delivery slice;
    * the other rows are the corpus it is delivered against.
    */
  def delivered(seed: Long, key: String = "doc_id"): Column =
    pmod(xxhash64(col(key), lit(seed)), lit(5L)) === 0
}
