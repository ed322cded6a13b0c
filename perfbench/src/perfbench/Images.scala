package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One row of the keyed image-metadata table the snapshot workloads
  * write: the curated record the pipeline's sink upserts per image. `rev`
  * is the benchmark commit that last wrote the row. */
final case class Img(key: String, trainW: Int, trainH: Int, rating: String,
    score: Double, tags: String, rev: Long) {
  def values: Seq[Any] = Seq(key, trainW, trainH, rating, score, tags, rev)
  lazy val hash: Long = Check.rowHash(values, Images.schema.fields.map(_.dataType).toSeq)
  /** The user byte count of the row: UTF-8 bytes of its strings plus the
    * width of its numbers. Write amplification is measured against it. */
  def userBytes: Long =
    Seq(key, rating, tags).map(_.getBytes("UTF-8").length.toLong).sum + 4 + 4 + 8 + 8
}

object Images {
  val schema: StructType = StructType(Seq(
    StructField("image_key", StringType), StructField("train_w", IntegerType),
    StructField("train_h", IntegerType), StructField("rating", StringType),
    StructField("aesthetic_score", DoubleType), StructField("tags", StringType),
    StructField("rev", LongType)))
  val Keys: Seq[String] = Seq("image_key")
  private val keySchema = StructType(Seq(StructField("image_key", StringType)))

  private val Ratings = IndexedSeq("general", "sensitive", "questionable", "explicit")
  private val Tags = ("1girl 1boy solo long_hair short_hair blonde_hair blue_eyes " +
    "red_eyes smile looking_at_viewer outdoors indoors sky tree dress shirt " +
    "ponytail braid hat school_uniform night day flower water").split(" ").toIndexedSeq

  /** The key of row `id`. Written keys are even; the odd key after each
    * is [[gapKey]]. */
  def key(id: Long): String = f"img${2 * id}%09d"

  /** A key between those of `id` and `id + 1` that is never written. */
  def gapKey(id: Long): String = f"img${2 * id + 1}%09d"

  def gen(id: Long, rev: Long, rnd: Random): Img = Img(key(id),
    512 + 64 * rnd.nextInt(9), 512 + 64 * rnd.nextInt(9),
    Ratings(rnd.nextInt(Ratings.size)), rnd.nextDouble(),
    Seq.fill(3 + rnd.nextInt(10))(Tags(rnd.nextInt(Tags.size))).distinct.mkString(", "),
    rev)

  def df(spark: SparkSession, rows: Seq[Img]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.values: _*)).asJava, schema)

  def keysDf(spark: SparkSession, keys: Seq[String]): DataFrame =
    spark.createDataFrame(keys.map(k => Row(k)).asJava, keySchema)
}

/** The benchmark's own account of the table: key → row, the digest of the
  * live rows, and the digest at every published version. */
final class Model {
  val live = mutable.HashMap[String, Img]()
  var digest: Digest = Digest.Zero
  val versions = mutable.TreeMap[Long, Digest]()

  private def d(r: Img) = Digest(BigInt(r.hash), 1L)

  def put(r: Img): Unit = {
    live.get(r.key).foreach(o => digest -= d(o))
    live(r.key) = r
    digest += d(r)
  }

  def remove(key: String): Boolean = live.remove(key) match {
    case Some(o) => digest -= d(o); true
    case None => false
  }

  def publish(version: Long): Unit = versions(version) = digest
}

/** Sizes of the files under a table root, to measure bytes written. */
final class DiskLedger(root: String) {
  private val seen = mutable.HashMap[String, Long]()

  private def files(): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** (bytes, files, manifest bytes) of the files that appeared since the
    * last call. */
  def newFiles(): (Long, Long, Long) = {
    val fresh = files().filter { case (f, _) => !seen.contains(f) }
    seen ++= fresh
    val manifest = fresh.filter(_._1.contains("/_manifests/")).values.sum
    (fresh.values.sum, fresh.size.toLong, manifest)
  }

  def totalBytes(): Long = files().values.sum
}

object DiskLedger {
  def bytesUnder(dir: String): Long = new DiskLedger(dir).totalBytes()
  def delete(dir: String): Unit = {
    val p: Path = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
