package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.indexes.{KVIndex, MultiLogSink, SinkIndex}
import graft.multilog.MultiLog
import graft.storage.ParquetLog

/** What a workload's timed phase produced: the gated end-to-end
  * metrics, the named per-call metrics printed beside them, and the
  * per-layer values only the workload can measure. */
final case class Outcome(
    endToEnd: Seq[(String, M)],
    named: Seq[(String, M)],
    layerExtras: Map[String, Double])

/** A workload: inputs written once by `prepare` (untimed), a start
  * state built `setupRounds` times from them (the median is
  * `setup_s`), a warm-up on the first one, and a timed closed loop of
  * one client thread on the last. */
trait Workload {
  type State
  def setupRounds: Int
  def prepare(ctx: Ctx): Unit
  def setup(ctx: Ctx, round: Int): State
  def warmup(ctx: Ctx, s: State): Unit
  def discard(ctx: Ctx, s: State): Unit
  def run(ctx: Ctx, s: State): Outcome
}

object Workload {
  def apply(name: String): Workload = name match {
    case "feed_mixed" => new FeedMixed
    case "bulk_scan" => new BulkScan
    case "curation_ingest" => new CurationIngest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Name and unit of every end-to-end metric, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "ops_per_s" -> "1/s",
    "write_ms_p50" -> "ms", "read_set_ms_p50" -> "ms")

  /** The end-to-end metrics every workload reports, but `setup_s`. The
    * rows each run writes and reads are fixed, so row rates would only
    * restate these times; they are printed with the named metrics. */
  def endToEnd(ctx: Ctx, wallS: Double, writes: Seq[Call],
      readSetsMs: Seq[Double]): Seq[(String, M)] = Seq(
    "ops_per_s" -> M(ctx.calls.size / wallS, "1/s", ctx.calls.size),
    "write_ms_p50" -> M(Stats.median(Stats.ms(writes)), "ms", writes.size),
    "read_set_ms_p50" -> M(Stats.median(readSetsMs), "ms", readSetsMs.size))

  def failedFrac(ctx: Ctx): (String, M) =
    "failed_ops_frac" -> M(ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "ratio", ctx.attempted)

  /** One Spark-planned read: DataFrame construction (`query.build`),
    * physical planning (`sources.plan`), execution (`sources.exec`). */
  def plannedRead[A](ctx: Ctx)(build: => DataFrame)(exec: DataFrame => A)(
      returned: A => Long): A = {
    val df = ctx.tracer.span("query.build")(build)
    ctx.tracer.span("sources.plan")(df.queryExecution.executedPlan)
    val r = ctx.tracer.span("sources.exec")(exec(df))
    if (ctx.tracer.on) ctx.execRowsReturned += returned(r)
    r
  }

  /** Writes generated events `[lo, hi)` to `dir` in one job: `parts`
    * id-ordered partitions, one parquet file each. */
  def writeEvents(ctx: Ctx, lo: Long, hi: Long, parts: Int, dir: String): Unit =
    Gen.events(ctx.spark, ctx.seed, lo, hi, parts).write.parquet(dir)

  /** The files [[writeEvents]] wrote, in partition (so event id) order:
    * Spark names them `part-<partition index>-...`. */
  def eventFiles(dir: String): Seq[String] =
    new File(dir).listFiles.filter(_.getName.startsWith("part-")).map(_.getPath).sorted.toSeq

  /** The events [[writeEvents]] wrote, one partition per file, in id
    * order: a union keeps the order of its inputs' partitions, so an
    * append of this frame gives event `i` its `i`-th seq. The values
    * pass through the [[Event]] encoder, which restores the generator's
    * schema (parquet reads every field back as nullable, and a log
    * takes later appends only of its first value type). */
  def readEvents(ctx: Ctx, dir: String): DataFrame = {
    import ctx.spark.implicits._
    eventFiles(dir).map(ctx.spark.read.parquet(_)).reduce(_ union _)
      .select("value.*").as[Event].map(identity).select(struct(col("*")).as("value"))
  }

  /** `(seq, value)` of a `(seq, value, nulled)` row; None = redacted. */
  def logRow(r: Row): (Long, Option[Event]) = {
    val v = r.getStruct(1)
    val nulled = r.getBoolean(2)
    (r.getLong(0),
      if (v == null || nulled) None
      else Some(Event(v.getLong(0), v.getLong(1), v.getLong(2),
        v.getString(3), v.getDouble(4), v.getString(5))))
  }

  /** The KV view the workloads maintain: latest props per user. */
  def pumpKv(log: ParquetLog, kv: KVIndex): Long =
    SinkIndex.pump(log, kv, b => b.select(
      col("value.user_id").cast("string").as("addr"),
      col("value.props").as("value"), col("seq").as("useq")))

  /** The multilog view: one sublog per event type. */
  def pumpMl(log: ParquetLog, ml: MultiLog, cursor: KVIndex): Long =
    MultiLogSink.pump(log, ml, cursor, b => b.select(
      col("value.event_type").as("addr"), col("seq")))

  def kvState(kv: KVIndex): Map[String, String] =
    kv.current.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** Per sublog `(count, sum of seqs, sum of squared seqs)`. */
  def mlDigest(ml: MultiLog): Map[String, (Long, Long, Long)] =
    ml.table.groupBy("addr").agg(count(lit(1)), sum("seq"), sum(col("seq") * col("seq")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}

/** Files under a directory, for the bytes a write call adds. */
final class DirWatch(dir: String) {
  private def snapshot(): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File): Unit =
      Option(f.listFiles).foreach(_.foreach { c =>
        if (c.isDirectory) walk(c) else out(c.getPath) = c.length
      })
    walk(new File(dir))
    out.toMap
  }

  private var last = snapshot()
  var filesWritten = 0L
  var bytesWritten = 0L
  var liveGrowth = 0L

  /** Take the baseline the next [[update]] compares against. */
  def mark(): Unit = last = snapshot()

  /** Account the files that appeared since the last mark. */
  def update(): Unit = {
    val now = snapshot()
    val fresh = now.filter { case (p, n) => !last.get(p).contains(n) }
    filesWritten += fresh.size
    bytesWritten += fresh.values.sum
    liveGrowth += now.values.sum - last.values.sum
    last = now
  }

  def liveFiles: Long = last.size.toLong
}
