package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input tables for the ETL workload, in the schema the query
  * registry reads (`Tables.documents`, `Tables.embeddings`). The shape is
  * fitted to the project's sf0.1 test tables, as measured there:
  *
  *   - 5,000 documents of 10 to 100 tokens, uniform (quartiles 32, 54,
  *     76), over a 30-word vocabulary used about evenly;
  *   - 5% near-duplicates (another document's text plus the token `dup`)
  *     and 0.16% exact duplicates (8 pairs);
  *   - languages en 41%, zh 15%, es 15%, fr 15%, de 14%;
  *     sources `src0`..`src19` round-robin by id; `n_chars` the text length;
  *   - 2,000 unit vectors of 64 floats, 10 labels drawn uniformly, with no
  *     per-label mean (the measured label means are the size of sampling
  *     noise).
  *
  * Only the counts differ: [[Full]] holds 30% of sf0.1's documents and
  * vectors, in the same 5:2 ratio, so that several warm passes fit in a
  * run. */
object Corpus {
  final case class Size(docs: Int, vectors: Int)
  val Full: Size = Size(docs = 1500, vectors = 600)
  val Tiny: Size = Size(docs = 120, vectors = 48)

  private val Vocab = ("a the spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow " +
    "line part fast row agg key query scan batch").split(" ").toIndexedSeq
  private val Langs = Seq("en" -> 0.40, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.15)
  private val NearDupShare = 0.05
  private val ExactDupShare = 0.0016
  val Dim = 64

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  private def lang(u: Double): String =
    Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
      .find(_._2 > u).getOrElse(Langs.head)._1

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`. */
  def write(spark: SparkSession, dir: String, size: Size, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val n = size.docs
    val texts = Array.fill(n) {
      Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    def other(i: Int): Int = (i + 1 + rnd.nextInt(n - 1)) % n
    val near = rnd.shuffle((0 until n).toList).take(math.round(n * NearDupShare).toInt)
    near.foreach(i => texts(i) = texts(other(i)) + " dup")
    val exact = rnd.shuffle((0 until n).toList).take(math.max(1, math.round(n * ExactDupShare).toInt))
    exact.foreach(i => texts(i) = texts(other(i)))
    val docs = texts.indices.map { i =>
      Row(i.toLong, texts(i), lang(rnd.nextDouble()), s"src${i % 20}", texts(i).length.toLong)
    }
    val vecs = (0 until size.vectors).map { i =>
      val v = Array.fill(Dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    spark.createDataFrame(docs.asJava, docSchema).coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(vecs.asJava, vecSchema).coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
  }
}
