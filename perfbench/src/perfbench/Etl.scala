package perfbench

import scala.io.Source

/** `etl_curation`: the anime-metadata chain and the LLM-curation chain of
  * the query registry, run read-only over a generated corpus. Every query
  * is one op: its function builds the DataFrame (span `build`, where the
  * eager jobs of the pipelines run), then the digest of all its output
  * columns is planned and executed (spans `plan`, `exec`) and compared
  * with the digest recorded for that corpus.
  *
  * The seed fixes the query order and picks one of four recorded corpora;
  * the held-out seed alone selects a fifth. */
final class Etl(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val size = if (ctx.opts.size == "tiny") Corpus.Tiny else Corpus.Full
  private val variant = Etl.variant(ctx.opts.seed)
  private val dir = ctx.dir("corpus")
  private val order = new scala.util.Random(ctx.opts.seed).shuffle(Etl.Queries)
  private lazy val expected = Etl.loadExpected(ctx.opts.expected, ctx.opts.size, variant)

  def home: String = dir

  def build(to: String): Unit = Corpus.write(spark, to, size, Etl.corpusSeed(variant))

  /** Two passes: after one, the first timed pass still ran about 40%
    * slower than the passes after it. */
  def warmUp(): Unit = { round(); round() }

  def round(): Unit = order.foreach { case (prefix, layer) =>
    val q = Etl.query(prefix)
    val inRows = if (prefix == "q95") size.vectors else size.docs
    ctx.op(prefix, layer) {
      val df = ctx.tracer.span("build")(q.fn(spark, dir))
      ctx.digest(df)
    }(_ => inRows.toLong) { got =>
      expected.get(q.name) match {
        case Some(want) => Check.compare(q.name, got, want)
        case None => Some(s"${q.name}: no recorded digest")
      }
    }
  }

  def finish(): Unit = ()

  def layerMetrics(tr: Tracer, recs: Seq[OpRec]): Map[String, Double] =
    tr.opSpans.groupBy(_.layer).flatMap { case (layer, ops) =>
      val ws = ops.map(o => tr.work(o.op))
      Seq(s"${layer}_ms" -> ops.map(_.ms).sum,
        s"${layer}_jobs" -> ws.map(_.jobs).sum.toDouble,
        s"${layer}_shuffle_read_bytes" -> ws.map(_.shuffleReadBytes).sum.toDouble,
        s"${layer}_shuffle_write_bytes" -> ws.map(_.shuffleWriteBytes).sum.toDouble)
    }

  def extraMetrics(recs: Seq[OpRec]): Map[String, Double] = Map.empty
}

object Etl {
  /** Query-name prefix → the layer its time is charged to. */
  val Queries: Seq[(String, String)] = Seq(
    "q54" -> "pipeline.modern", "q58" -> "pipeline.modern",
    "q50" -> "ops.tags", "q51" -> "ops.tags",
    "q86" -> "pipeline.corpus", "q41" -> "ops.dedup",
    "q95" -> "ops.similarity", "q100" -> "ops.search")

  val Variants = 4

  def variant(seed: Long): Int =
    if (seed == Main.HeldOutSeed) Variants else java.lang.Math.floorMod(seed, Variants.toLong).toInt

  def corpusSeed(variant: Int): Long = 7700L + variant

  def query(prefix: String): graft.Q =
    graft.Queries.all.find(_.name.startsWith(prefix + "_"))
      .getOrElse(throw new IllegalStateException(s"no query $prefix in the registry"))

  /** Recorded digests: tab-separated `size variant query sum rows`. */
  def loadExpected(path: String, size: String, variant: Int): Map[String, Digest] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split("\t")).collect {
      case Array(s, v, q, sum, rows) if s == size && v.toInt == variant =>
        q -> Digest(BigInt(sum), rows.toLong)
    }.toMap
    finally src.close()
  }

  /** Print the digest of every query on every corpus variant of this
    * size, in the format [[loadExpected]] reads. */
  def record(ctx: Ctx): Unit = {
    val size = if (ctx.opts.size == "tiny") Corpus.Tiny else Corpus.Full
    (0 to Variants).foreach { v =>
      val dir = ctx.dir(s"corpus-$v")
      Corpus.write(ctx.spark, dir, size, corpusSeed(v))
      Queries.foreach { case (prefix, _) =>
        val q = query(prefix)
        val d = ctx.digest(q.fn(ctx.spark, dir))
        println(Seq(ctx.opts.size, v, q.name, d.sum, d.rows).mkString("\t"))
      }
    }
  }
}
