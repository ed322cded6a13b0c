package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One interval recorded by the benchmark around a call into the program.
  * `op` is shared by every span of one operation; `parent` is -1 for the
  * operation's own span. Times are kept twice: nanoTime for durations,
  * epoch millis to line spans up with Spark's job events. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    layer: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work charged to one operation. */
final class OpWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  /** (start, end) epoch millis of each job. */
  val jobTimes = mutable.ArrayBuffer[(Long, Long)]()
}

/** Counts the jobs, stages and tasks Spark runs, charged to the operation
  * named by the `perfbench.op` local property the [[Tracer]] sets around
  * each operation. Every callback runs on the listener-bus thread; the
  * main thread reads the counters only after [[Tracer.drain]] saw the
  * marker job end, which orders all earlier events before the read. */
final class WorkListener extends SparkListener {
  private val jobOp = mutable.Map[Int, Long]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private val stageOp = mutable.Map[Int, Long]()
  val work = mutable.Map[Long, OpWork]()
  @volatile var drained: Long = Long.MinValue

  private def of(op: Long) = work.getOrElseUpdate(op, new OpWork)

  private def opOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.OpProperty)))
      .map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobOp(e.jobId) = op
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageOp(s) = op)
    of(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = jobOp.getOrElse(e.jobId, -1L)
    of(op).jobTimes += ((jobStartMs.getOrElse(e.jobId, e.time), e.time))
    if (op <= Tracer.DrainBase) drained = op
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val op = stageOp.getOrElse(e.stageInfo.stageId, opOf(e.properties))
    of(op).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = of(stageOp.getOrElse(e.stageId, -1L))
    w.tasks += 1
    if (e.reason != Success) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.inputRecords += m.inputMetrics.recordsRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** Spans and Spark counters for the traced half of a run. When `on` is
  * false every method only runs its body: untraced runs attach no
  * listener and record nothing. Everything stays in memory until the run
  * ends. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new WorkListener
  private var stack: List[Int] = Nil
  private var opSeq = 0L
  private var curOp = -1L
  private var drains = 0L
  private var gcStart = 0L
  var gcMs = 0L

  private def gcTotal: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def start(): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    gcStart = gcTotal
  }

  /** Wait until the listener has seen every event posted so far, then
    * detach it. */
  def stop(): Unit = if (on) {
    gcMs = gcTotal - gcStart
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }

  private def drain(): Unit = {
    drains += 1
    val marker = Tracer.DrainBase - drains
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProperty, marker.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.OpProperty, null)
    val deadline = System.nanoTime + 60L * 1000000000L
    while (listener.drained != marker && System.nanoTime < deadline)
      Thread.sleep(5)
    require(listener.drained == marker, "Spark listener bus did not drain")
  }

  /** Run one operation of the workload under a fresh op id. */
  def op[A](name: String, layer: String)(body: => A): A = {
    if (!on) body
    else {
      opSeq += 1
      curOp = opSeq
      spark.sparkContext.setLocalProperty(Tracer.OpProperty, curOp.toString)
      try span(name, layer)(body)
      finally {
        spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
        curOp = -1L
      }
    }
  }

  /** A child interval of the current operation. */
  def span[A](name: String, layer: String = "")(body: => A): A = {
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val (s0, m0) = (System.nanoTime, System.currentTimeMillis)
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, curOp, name, layer, s0, System.nanoTime,
          m0, System.currentTimeMillis)
      }
    }
  }

  def opSpans: Seq[Span] = spans.toSeq.filter(_.parent == -1)
  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)
  def work(op: Long): OpWork = listener.work.getOrElse(op, new OpWork)

  /** Millis of [from, to] covered by at least one of `ivs`. */
  def covered(ivs: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var (total, end) = (0L, Long.MinValue)
    clipped.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { total += b - s; end = b }
    }
    total
  }

  /** Wall millis of an operation span with no job of it running. */
  def driverGapMs(s: Span): Double =
    math.max(0.0, s.ms - covered(work(s.op).jobTimes.toSeq, s.startMs, s.endMs))

  /** The Spark-engine metrics over every traced operation. */
  def engineMetrics(): Map[String, Double] = {
    val ops = opSpans
    val ws = ops.map(s => work(s.op))
    def sum(f: OpWork => Long) = ws.map(f).sum.toDouble
    val build = ops.flatMap(o => children(o).filter(_.name == "build")
      .map(b => covered(work(o.op).jobTimes.toSeq, b.startMs, b.endMs).toDouble)).sum
    def childMs(n: String) = spans.toSeq.filter(s => s.parent >= 0 && s.name == n)
      .map(_.ms).sum
    Map(
      "spark.build_ms" -> build,
      "spark.plan_ms" -> childMs("plan"),
      "spark.exec_ms" -> childMs("exec"),
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.task_ms" -> sum(_.taskMs),
      "spark.driver_gap_ms" -> ops.map(driverGapMs).sum,
      "spark.input_bytes" -> sum(_.inputBytes),
      "spark.output_bytes" -> sum(_.outputBytes),
      "spark.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "spark.failed_tasks" -> sum(_.failedTasks),
      "jvm.gc_ms" -> gcMs.toDouble)
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
  /** Op ids at or below this mark the listener-drain jobs. */
  val DrainBase: Long = -1000L
}
