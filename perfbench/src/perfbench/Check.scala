package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** An order-insensitive digest of a row multiset: the sum of every row's
  * `xxhash64` over all its columns, and the row count. Computing it makes
  * Spark produce every output column, so no column is pruned away. */
final case class Digest(sum: BigInt, rows: Long) {
  def +(o: Digest): Digest = Digest(sum + o.sum, rows + o.rows)
  def -(o: Digest): Digest = Digest(sum - o.sum, rows - o.rows)
  override def toString: String = s"$sum/$rows"
}

object Digest {
  val Zero: Digest = Digest(BigInt(0), 0L)
}

object Check {
  /** The hash is summed as decimal(38,0): a long sum overflows, and Spark
    * runs with ANSI mode on, where that raises ARITHMETIC_OVERFLOW. */
  private def hashSum(h: Column): Column = sum(h.cast("decimal(38,0)"))

  /** The aggregate that digests `df`; `collect` it to run the work. */
  def digestOf(df: DataFrame): DataFrame =
    df.select(hashSum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)),
      count(lit(1)))

  /** Digest of `df` whose rows carry a `sign` column: +1 rows add their
    * hash over `cols`, -1 rows subtract it. */
  def signedDigestOf(df: DataFrame, cols: Seq[String], sign: Column): DataFrame =
    df.select(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)") * sign),
      sum(sign))

  def read(r: Row): Digest = Digest(
    if (r.isNullAt(0)) BigInt(0) else BigInt(r.getDecimal(0).toBigInteger),
    if (r.isNullAt(1)) 0L else r.getLong(1))

  /** Spark's `xxhash64` of one row, computed without Spark: the columns
    * are folded left to right from seed 42, and a null leaves the running
    * hash unchanged. */
  def rowHash(values: Seq[Any], types: Seq[DataType]): Long =
    values.zip(types).foldLeft(42L) { case (h, (v, t)) =>
      if (v == null) h
      else {
        val x = v match {
          case s: String => UTF8String.fromString(s)
          case o => o
        }
        XxHash64Function.hash(x, t, h)
      }
    }

  /** Compare a digest with the expected one; `None` when they agree. */
  def compare(what: String, got: Digest, want: Digest): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}
