package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** `snapshot_sink`: commits and reads on a keyed, bucketed image-metadata
  * table, the sink the curation pipeline upserts into. A round is:
  *
  *   - a compact and a vacuum that keeps two versions;
  *   - the five commit kinds in seeded order: append, copy-on-write
  *     upsert, merge-on-read upsert, key delete and `deleteWhere`. Upsert
  *     and delete keys lean toward recently written ones, the way a sink
  *     re-scores its newest images;
  *   - eleven reads in seeded order, over the layers those commits left.
  *     Through the object API: two point lookups of present keys and two
  *     of absent keys (what the bloom filters exist for: absent keys fall
  *     between written ones, so min/max statistics cannot skip them), a
  *     current scan, a time-travel scan of the compacted version, and the
  *     change window over the round's five commits. Through SQL on the
  *     catalog: a present and an absent lookup, a current scan and the
  *     same time travel.
  *
  * The seed picks the data, the keys and the order within each group;
  * the versions read are fixed relative to the newest. Each commit must
  * publish the next version, each read must match the model's digest of
  * the version it reads, and the final table must match the model. */
final class Snapshot(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val (initial, buckets, batch) =
    if (ctx.opts.size == "tiny") (400, 4, 20) else (20000, 8, 400)
  private val warehouse = ctx.dir("warehouse")
  private val root = s"$warehouse/img"
  private val sqlName = "pbcat.img"
  private val rnd = new Random(ctx.opts.seed)
  private val model = new Model
  private val ledger = new DiskLedger(root)
  private var version = 0L
  private var nextId = 0L
  private var rev = 0L
  private val Write = "sources.write"
  private val Read = "sources.read"

  /** Disk and user bytes of the current loop's commits. */
  private val written = mutable.Map[String, Double]().withDefaultValue(0.0)

  private val initialRows = (0L until initial).map(Images.gen(_, 0L, rnd))

  def home: String = root

  /** Create the table from the seeded initial rows. The build at [[home]]
    * also starts the model and registers the SQL catalog. */
  def build(to: String): Unit = {
    val v = SnapshotTable.create(Images.df(spark, initialRows), to, Images.Keys, buckets)
    if (to == root) {
      spark.conf.set("spark.sql.catalog.pbcat", "graft.sources.SnapshotCatalog")
      spark.conf.set("spark.sql.catalog.pbcat.warehouse", warehouse)
      version = v
      nextId = initial
      initialRows.foreach(model.put)
      model.publish(version)
      ledger.newFiles()
    }
  }

  def warmUp(): Unit = {
    round()
    written.clear()
  }

  private val CommitKinds = Seq("append", "upsert", "upsert_mor", "delete", "delete_where")
  private val ReadKinds = Seq("lookup", "lookup", "lookup_absent", "lookup_absent", "scan",
    "time_travel", "changes", "sql_lookup", "sql_lookup_absent", "sql_scan",
    "sql_time_travel")

  def round(): Unit = {
    Seq("compact", "vacuum").foreach(commit)
    rnd.shuffle(CommitKinds).foreach(commit)
    rnd.shuffle(ReadKinds).foreach(read)
  }

  /** An id drawn toward the newest ones: exponential with mean 1/8 of the
    * ids written so far, back from the newest. */
  private def recentId(): Long =
    math.max(0L, nextId - 1 - (-math.log(1 - rnd.nextDouble()) * nextId / 8).toLong)

  /** `n` distinct ids: `fresh` never written before, the rest recent. */
  private def batchIds(n: Int, fresh: Int): Seq[Long] = {
    val ids = mutable.LinkedHashSet[Long]()
    while (ids.size < n - fresh) ids += recentId()
    val news = nextId until nextId + fresh
    nextId += fresh
    ids.toSeq ++ news
  }

  private def commit(kind: String): Unit = {
    rev += 1
    kind match {
      case "append" =>
        val rows = (nextId until nextId + batch).map(Images.gen(_, rev, rnd))
        nextId += batch
        publish(kind, rows.size, rows.map(_.userBytes).sum,
          SnapshotTable.append(Images.df(spark, rows), root))(rows.foreach(model.put))
      case "upsert" | "upsert_mor" =>
        val rows = batchIds(batch, batch / 5).map(Images.gen(_, rev, rnd))
        val mor = kind == "upsert_mor"
        publish(kind, rows.size, rows.map(_.userBytes).sum,
          SnapshotTable.upsert(Images.df(spark, rows), root, mergeOnRead = mor))(
          rows.foreach(model.put))
      case "delete" =>
        val keys = batchIds(batch / 4, 0).map(Images.key)
        publish(kind, keys.size, keys.map(_.length.toLong).sum,
          SnapshotTable.delete(Images.keysDf(spark, keys), root))(keys.foreach(model.remove))
      case "delete_where" =>
        val lo = rnd.nextDouble() * 0.99
        val hit = model.live.values.filter(r => r.score >= lo && r.score < lo + 0.004)
          .map(_.key).toSeq
        publish(kind, hit.size, 0L, SnapshotTable.deleteWhere(spark, root,
          col("aesthetic_score") >= lo && col("aesthetic_score") < lo + 0.004))(
          hit.foreach(model.remove))
      case "compact" =>
        publish(kind, 0, 0L, SnapshotTable.compact(spark, root))(())
      case "vacuum" =>
        ctx.op(kind, Write)(SnapshotTable.vacuum(spark, root, keepVersions = 2))(
          _ => 0L)(_ => { account(0L); None })
    }
  }

  /** Run one commit as an op; on success apply it to the model and check
    * it published the next version. */
  private def publish(kind: String, rows: Long, userBytes: Long, body: => Long)(
      apply: => Unit): Unit =
    ctx.op(kind, Write)(body)(_ => rows) { v =>
      apply
      model.publish(v)
      account(userBytes)
      val want = version + 1
      version = v
      if (v == want) None else Some(s"published version $v, want $want")
    }

  private def account(userBytes: Long): Unit = {
    val (bytes, files, manifest) = ledger.newFiles()
    written("bytes") += bytes
    written("files") += files
    written("manifest") += manifest
    written("user") += userBytes
  }

  private def presentKey(): String = {
    val keys = model.live.keysIterator
    keys.drop(rnd.nextInt(model.live.size)).next()
  }

  /** A key that no commit ever writes, inside the range of written keys,
    * so min/max statistics cannot rule it out and only the bloom filters
    * can. */
  private def absentKey(): String = Images.gapKey(rnd.nextInt(nextId.toInt).toLong)

  private def read(kind: String): Unit = kind match {
    case "lookup" | "lookup_absent" | "sql_lookup" | "sql_lookup_absent" =>
      val key = if (kind.endsWith("absent")) absentKey() else presentKey()
      val want = model.live.get(key).map(r => Digest(BigInt(r.hash), 1L))
        .getOrElse(Digest.Zero)
      timed(kind, "lookup", want) {
        if (kind.startsWith("sql"))
          spark.sql(s"SELECT * FROM $sqlName WHERE image_key = '$key'")
        else SnapshotTable.readForKeys(Images.keysDf(spark, Seq(key)), root)
      }
    case "scan" | "sql_scan" =>
      timed(kind, "scan", model.digest) {
        if (kind == "scan") SnapshotTable.read(spark, root)
        else spark.sql(s"SELECT * FROM $sqlName")
      }
    case "time_travel" | "sql_time_travel" =>
      val v = version - CommitKinds.size
      timed(kind, "time_travel", model.versions(v)) {
        if (kind == "time_travel") SnapshotTable.read(spark, root, version = Some(v))
        else spark.sql(s"SELECT * FROM $sqlName VERSION AS OF $v")
      }
    case "changes" =>
      val (from, to) = (version - CommitKinds.size, version)
      val cols = Images.schema.fieldNames.toSeq
      val want = model.versions(to) - model.versions(from)
      ctx.op(kind, Read) {
        val df = ctx.tracer.span("build")(SnapshotTable.readChanges(spark, root, from, to))
        val agg = Check.signedDigestOf(df, cols,
          when(col("_change_type") === "insert", 1L).otherwise(-1L))
        ctx.tracer.span("plan")(agg.queryExecution.executedPlan)
        Check.read(ctx.tracer.span("exec")(agg.collect().head))
      }(_.rows.abs)(got => Check.compare(s"changes ($from, $to]", got, want))
  }

  /** One read as an op: build the DataFrame, digest it, compare. */
  private def timed(kind: String, what: String, want: Digest)(df: => DataFrame): Unit =
    ctx.op(kind, Read) {
      ctx.digest(ctx.tracer.span("build")(df))
    }(_.rows)(got => Check.compare(what, got, want))

  def finish(): Unit =
    ctx.op("final_check", Read)(ctx.digest(SnapshotTable.read(spark, root)))(
      _ => 0L)(got => Check.compare("final table", got, model.digest))

  def layerMetrics(tr: Tracer, recs: Seq[OpRec]): Map[String, Double] = {
    val ops = tr.opSpans
    def jobs(ss: Seq[Span]) = ss.map(s => tr.work(s.op).jobs).sum.toDouble
    def bytes(ss: Seq[Span]) = ss.map(s => tr.work(s.op).inputBytes).sum.toDouble
    val perKind = Metrics.commitKinds.flatMap { k =>
      val ks = ops.filter(_.name == k)
      Seq(s"sources.${k}_ms" -> ks.map(_.ms).sum, s"sources.${k}_jobs" -> jobs(ks),
        s"sources.${k}_driver_gap_ms" -> ks.map(tr.driverGapMs).sum)
    }
    val reads = ops.filter(_.layer == Read)
    val lookups = reads.filter(_.name.contains("lookup"))
    val absent = lookups.filter(_.name.endsWith("absent"))
    val lookupRows = recs.filter(_.kind.contains("lookup")).map(_.rows).sum
    val scanned = lookups.map(s => tr.work(s.op).inputRecords).sum.toDouble
    val last = SnapshotTable.versions(spark, root).last
    perKind.toMap ++ Map(
      "sources.readback_ratio" -> bytes(ops.filter(_.layer == Write)) / written("bytes"),
      "sources.bytes_written" -> written("bytes"),
      "sources.files_written" -> written("files"),
      "sources.manifest_bytes" -> written("manifest"),
      "sources.dirs_per_bucket" -> (last.entries.size + last.deltas.size).toDouble / buckets,
      "sources.object_read_ms" -> reads.filterNot(_.name.startsWith("sql")).map(_.ms).sum,
      "sources.catalog_read_ms" -> reads.filter(_.name.startsWith("sql")).map(_.ms).sum,
      "sources.read_jobs" -> jobs(reads),
      "sources.lookup_bytes_read" -> bytes(lookups),
      "sources.absent_lookup_bytes_read" -> bytes(absent),
      "sources.object_absent_lookup_bytes_read" -> bytes(absent.filterNot(_.name.startsWith("sql"))),
      "sources.catalog_absent_lookup_bytes_read" -> bytes(absent.filter(_.name.startsWith("sql"))),
      "sources.lookup_useful_ratio" -> (if (scanned == 0) 0.0 else lookupRows / scanned))
  }

  /** Per-kind medians, and write and space amplification of the loop. The
    * space figure compares the table's bytes on disk with a freshly
    * created table holding only the live rows. */
  def extraMetrics(recs: Seq[OpRec]): Map[String, Double] = {
    val copy = ctx.dir("compacted")
    DiskLedger.delete(copy)
    SnapshotTable.create(SnapshotTable.read(spark, root), copy, Images.Keys, buckets)
    val space = DiskLedger.bytesUnder(root).toDouble / DiskLedger.bytesUnder(copy)
    DiskLedger.delete(copy)
    val amp = written("bytes") / written("user")
    written.clear()
    def readType(k: String) = k.stripPrefix("sql_").stripSuffix("_absent")
    Stats.p50ByKind(recs.map(r => r.copy(kind = readType(r.kind))),
      "append" -> "append_p50_ms", "upsert" -> "upsert_p50_ms",
      "upsert_mor" -> "upsert_mor_p50_ms", "delete" -> "delete_p50_ms",
      "lookup" -> "lookup_p50_ms", "scan" -> "scan_p50_ms",
      "time_travel" -> "time_travel_p50_ms", "changes" -> "changes_p50_ms") ++
      Map("write_amp" -> amp, "space_amp" -> space)
  }
}
