package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed operation: its kind, latency, and the rows it committed or
  * returned. */
final case class OpRec(kind: String, ms: Double, rows: Long)

/** What one workload run needs: the session, its scratch directory, the
  * op log, and the check results. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  var tracer: Tracer = new Tracer(spark, on = false)
  /** Ops of the current timed loop; `null` while warming up. */
  var recs: mutable.ArrayBuffer[OpRec] = null
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer[String]()
  private var faultPending = opts.fault

  /** Run `body` as one timed operation. `rows` and `check` run after the
    * clock stops; a check failure fails the run, a throw counts as a
    * failed op. */
  def op[A](kind: String, layer: String)(body: => A)(rows: A => Long)(
      check: A => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime
    try {
      val a = tracer.op(kind, layer)(body)
      val ms = (System.nanoTime - t0) / 1e6
      if (recs != null) recs += OpRec(kind, ms, rows(a))
      check(a).foreach(m => mismatches += s"$kind: $m")
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
    }
  }

  /** Digest `df` inside the current op, as spans `plan` and `exec`. With
    * `--fault` the first non-empty digested result gets one row altered. */
  def digest(df: DataFrame): Digest = {
    val agg = Check.digestOf(if (faultPending) alterOneRow(df) else df)
    tracer.span("plan")(agg.queryExecution.executedPlan)
    Check.read(tracer.span("exec")(agg.collect().head))
  }

  /** `df` with one row changed: the row of least hash gets its first
    * column altered. Used only to prove the output check catches it. */
  private def alterOneRow(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    val least = df.agg(min(h)).head()
    if (least.isNullAt(0)) return df
    faultPending = false
    val target = least.getLong(0)
    val f = df.schema.fields.head
    val c = col(s"`${f.name}`")
    val changed: Column = f.dataType match {
      case StringType => concat(c, lit("~"))
      case _: NumericType => (c + lit(1)).cast(f.dataType)
      case t => lit(null).cast(t)
    }
    df.withColumn(f.name, when(h === target, changed).otherwise(c))
  }

  def dir(name: String): String = s"${opts.workDir}/$name"
}

/** A workload: set-up (inputs, table, warm-up), a round of operations
  * with a fixed mix, and checks and measurements once the loop ends. */
trait Workload {
  /** Rounds the timed loop runs at least, whatever `--seconds` says: two,
    * so that each op kind's latency is a median of at least two. */
  def minRounds: Int = 2
  /** Where [[build]] puts the inputs the timed loop uses. */
  def home: String
  /** Generate the inputs, or build the table, under `to`. Set-up calls it
    * several times, the last time with [[home]]. */
  def build(to: String): Unit
  /** Untimed rounds after the last build, so the timed loop starts warm. */
  def warmUp(): Unit
  def round(): Unit
  def finish(): Unit
  /** Per-layer metrics of this workload's layers, from the traced loop. */
  def layerMetrics(tr: Tracer, recs: Seq[OpRec]): Map[String, Double]
  /** End-to-end figures only this workload has (per-type latencies,
    * amplification), from the untraced loop. */
  def extraMetrics(recs: Seq[OpRec]): Map[String, Double]
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median latency per op kind, for the kinds present. */
  def p50ByKind(recs: Seq[OpRec], names: (String, String)*): Map[String, Double] =
    names.flatMap { case (kind, metric) =>
      val xs = recs.filter(_.kind == kind).map(_.ms)
      if (xs.isEmpty) None else Some(metric -> median(xs))
    }.toMap
}
