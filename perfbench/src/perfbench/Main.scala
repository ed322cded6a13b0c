package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options. `size` and `fault` exist for the benchmark's own
  * tests; `record` prints the ETL digests instead of checking them. */
final case class Opts(workload: String = "", seed: Long = 0L,
    seconds: Double = 10.0, trace: Boolean = false, size: String = "full",
    workDir: String = "", expected: String = "", fault: Boolean = false,
    record: Boolean = false)

object Opts {
  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--size" :: v :: t => parse(t, o.copy(size = v))
    case "--work-dir" :: v :: t => parse(t, o.copy(workDir = v))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case "--fault" :: t => parse(t, o.copy(fault = true))
    case "--record" :: t => parse(t, o.copy(record = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }
}

/** Figures of one timed loop. `wall_s` is the program's time for one
  * round, each op kind counted at its median latency: the benchmark's
  * own checks and model updates are not in it, and one slow op moves it
  * less than a sum would. */
final case class LoopStats(recs: Seq[OpRec], rounds: Int) {
  private val ms = recs.map(_.ms)
  def wallS: Double = recs.groupBy(_.kind).values
    .map(rs => Stats.median(rs.map(_.ms)) * rs.size / rounds).sum / 1000.0
  def rowsPerS: Double = recs.map(_.rows).sum.toDouble / rounds / wallS
  def p50: Double = Stats.quantile(ms, 0.5)
  def p90: Double = Stats.quantile(ms, 0.9)
}

object Main {
  /** The held-out seed: no figure was tuned on it. A later change
    * confirms a claimed gain on it as well as on the seeds it was
    * measured with. */
  val HeldOutSeed: Long = 7919L

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the JVM started. */
  def sinceStart: Double = (System.currentTimeMillis - jvmStartMs) / 1000.0

  def progress(what: String): Unit =
    System.err.println(f"[perfbench] $what at $sinceStart%.1f s")

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args.toList)
    require(opts.workDir.nonEmpty, "--work-dir is required")
    val spark = session(opts)
    progress("session ready")
    try {
      val ctx = new Ctx(spark, opts)
      if (opts.record) Etl.record(ctx)
      else run(ctx)
    } finally spark.stop()
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.workDir}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(ctx: Ctx): Workload = ctx.opts.workload match {
    case "etl_curation" => new Etl(ctx)
    case "snapshot_sink" => new Snapshot(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Builds per set-up; `setup_s` counts their median. */
  val SetupBuilds = 3

  /** Seconds of set-up after the session is up: the median of
    * [[SetupBuilds]] builds of the inputs, the last one at the workload's
    * home, then the warm-up round. */
  private def setup(ctx: Ctx, w: Workload): Double = {
    val targets = (1 until SetupBuilds).map(i => ctx.dir(s"setup-$i")) :+ w.home
    val builds = targets.map { to =>
      val t0 = System.nanoTime
      w.build(to)
      val s = (System.nanoTime - t0) / 1e9
      if (to != w.home) DiskLedger.delete(to)
      s
    }
    progress("inputs ready")
    val t0 = System.nanoTime
    w.warmUp()
    Stats.median(builds) + (System.nanoTime - t0) / 1e9
  }

  private var calibSink = 0L

  /** A fixed single-thread CPU task, timed five times: it does not depend
    * on the program, so it tells a slower host apart from slower code. */
  private def hostCalibration(): Seq[Double] = (1 to 5).map { _ =>
    val t0 = System.nanoTime
    var x = 1L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    calibSink ^= x
    (System.nanoTime - t0) / 1e6
  }

  /** Rounds until `seconds` have passed, at least `minRounds`. */
  private def loop(ctx: Ctx, w: Workload): LoopStats = {
    ctx.recs = mutable.ArrayBuffer[OpRec]()
    val t0 = System.nanoTime
    var rounds = 0
    while (rounds < w.minRounds || (System.nanoTime - t0) / 1e9 < ctx.opts.seconds) {
      w.round()
      rounds += 1
      progress(s"round $rounds done")
    }
    val s = LoopStats(ctx.recs.toSeq, rounds)
    ctx.recs = null
    s
  }

  private def run(ctx: Ctx): Unit = {
    val sessionS = sinceStart
    val w = workload(ctx)
    val calib = mutable.ArrayBuffer[Double]() ++ hostCalibration()
    val setupS = sessionS + setup(ctx, w)
    progress("set-up done")
    val plain = loop(ctx, w)
    progress("timed loop done")
    val extra = w.extraMetrics(plain.recs) ++ Map(
      "op_p50_ms" -> plain.p50, "op_p90_ms" -> plain.p90,
      "failed_frac" -> ctx.failed.toDouble / ctx.attempted)
    val metrics: Map[String, (Double, String)] =
      if (!ctx.opts.trace) Map(
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (plain.wallS, "s"),
        "rows_per_s" -> (plain.rowsPerS, "1/s"))
      else {
        ctx.tracer = new Tracer(ctx.spark, on = true)
        ctx.tracer.start()
        val traced = loop(ctx, w)
        ctx.tracer.stop()
        val layers = ctx.tracer.engineMetrics() ++ w.layerMetrics(ctx.tracer, traced.recs)
        ctx.tracer = new Tracer(ctx.spark, on = false)
        // untraced loops before and after the traced one, so that the
        // warm-up still going on during the loops cancels out
        val after = loop(ctx, w)
        val overhead = traced.wallS - (plain.wallS + after.wallS) / 2
        val all = layers ++ extra + ("trace.overhead_s" -> overhead)
        Metrics.perLayer.map { case (n, unit) => n -> (all.getOrElse(n, 0.0), unit) }.toMap
      }
    w.finish()
    calib ++= hostCalibration()
    if (!ctx.opts.trace)
      println("perfbench detail " + Json.obj((extra ++ Map(
        "ops" -> plain.recs.size.toDouble, "rounds" -> plain.rounds.toDouble,
        "host_calib_ms" -> Stats.median(calib.toSeq)))
        .toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    ctx.mismatches.foreach(m => System.err.println(s"[perfbench] mismatch $m"))
    val correct = ctx.mismatches.isEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }
}

/** The per-layer metric names and units every traced run prints; a
  * layer a workload does not touch reads 0. */
object Metrics {
  private val etlLayers = Etl.Queries.map(_._2).distinct
  val commitKinds: Seq[String] = Seq("append", "upsert", "upsert_mor", "delete",
    "delete_where", "compact", "vacuum")

  val perLayer: Seq[(String, String)] =
    Seq("spark.build_ms" -> "ms", "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
      "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.failed_tasks" -> "count", "jvm.gc_ms" -> "ms") ++
    etlLayers.flatMap(l => Seq(s"${l}_ms" -> "ms", s"${l}_jobs" -> "count",
      s"${l}_shuffle_read_bytes" -> "bytes", s"${l}_shuffle_write_bytes" -> "bytes")) ++
    commitKinds.flatMap(k => Seq(s"sources.${k}_ms" -> "ms",
      s"sources.${k}_jobs" -> "count", s"sources.${k}_driver_gap_ms" -> "ms")) ++
    Seq("sources.readback_ratio" -> "ratio", "sources.bytes_written" -> "bytes",
      "sources.files_written" -> "count", "sources.manifest_bytes" -> "bytes",
      "sources.dirs_per_bucket" -> "count",
      "sources.object_read_ms" -> "ms", "sources.catalog_read_ms" -> "ms",
      "sources.read_jobs" -> "count", "sources.lookup_bytes_read" -> "bytes",
      "sources.absent_lookup_bytes_read" -> "bytes",
      "sources.object_absent_lookup_bytes_read" -> "bytes",
      "sources.catalog_absent_lookup_bytes_read" -> "bytes",
      "sources.lookup_useful_ratio" -> "ratio",
      "append_p50_ms" -> "ms", "upsert_p50_ms" -> "ms", "upsert_mor_p50_ms" -> "ms",
      "delete_p50_ms" -> "ms", "lookup_p50_ms" -> "ms", "scan_p50_ms" -> "ms",
      "time_travel_p50_ms" -> "ms", "changes_p50_ms" -> "ms",
      "write_amp" -> "ratio", "space_amp" -> "ratio", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
      "failed_frac" -> "ratio", "trace.overhead_s" -> "s")
}

/** Just enough JSON output for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** Full precision; a non-finite value is written as 0 (JSON has no NaN). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
