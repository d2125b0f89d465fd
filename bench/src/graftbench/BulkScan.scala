package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.QuerySpec._
import graft.indexes.KVIndex
import graft.multilog.MultiLog
import graft.storage.ParquetLog

/** Closed-form answers for a log holding generated events `[0, n)`:
  * prefix sums for any seq range, and both derived views after a full
  * rebuild. Computed from [[Gen]] alone. */
final class Expected(seed: Long, val n: Long) {
  val userPrefix = new Array[Long](n.toInt + 1)
  val centsPrefix = new Array[Long](n.toInt + 1)
  private val lastOfUser = mutable.Map.empty[Long, Long]
  private val typeDigest = mutable.Map.empty[String, (Long, Long, Long)]
  for (i <- 0 until n.toInt) {
    val e = Gen.event(seed, i)
    userPrefix(i + 1) = userPrefix(i) + e.user_id
    centsPrefix(i + 1) = centsPrefix(i) + math.round(e.amount * 100)
    lastOfUser(e.user_id) = i
    val (c, s, q) = typeDigest.getOrElse(e.event_type, (0L, 0L, 0L))
    typeDigest(e.event_type) = (c + 1, s + i, q + i.toLong * i)
  }

  /** `(count, sum of seqs, sum of user ids)` over seqs `[lo, hi)`. */
  def range(lo: Long, hi: Long): (Long, Long, Long) =
    (hi - lo, (lo + hi - 1) * (hi - lo) / 2, userPrefix(hi.toInt) - userPrefix(lo.toInt))

  def amountSum: Double = centsPrefix(n.toInt) / 100.0
  def kv: Map[String, String] = lastOfUser.map { case (u, i) =>
    u.toString -> Gen.event(seed, i).props }.toMap
  def sublogDigest: Map[String, (Long, Long, Long)] = typeDigest.toMap
}

/** `bulk_scan`: bulk ingest of a log ten times the feed's, a fixed set
  * of scans through the `graft-log` connector, and both derived views
  * rebuilt from scratch. Scan, decode and bulk-write throughput. */
final class BulkScan extends Workload {
  val Rows = 1000000L
  val Chunks = 8
  val WarmRows = 20000L
  val setupRounds = 25

  final class State(val dir: String, val log: ParquetLog, val kv: KVIndex,
      val ml: MultiLog, val mcur: KVIndex) {
    val watch = new DirWatch(s"$dir/log/data")
  }

  private def input(ctx: Ctx) = s"${ctx.work}/input"

  private def open(ctx: Ctx, dir: String): State = new State(dir,
    ParquetLog.open(ctx.spark, s"$dir/log"), KVIndex.open(ctx.spark, s"$dir/kv"),
    MultiLog.open(ctx.spark, s"$dir/mlog"), KVIndex.open(ctx.spark, s"$dir/mcur"))

  /** One parquet file per chunk: a chunk reads back as one split, in
    * id order, so seq == event_id after ingest. */
  def prepare(ctx: Ctx): Unit = Workload.writeEvents(ctx, 0, Rows, Chunks, input(ctx))

  def setup(ctx: Ctx, round: Int): State = open(ctx, s"${ctx.work}/bulk$round")

  def warmup(ctx: Ctx, s: State): Unit = {
    val w = open(ctx, s"${s.dir}/warm")
    val exp = new Expected(ctx.seed, WarmRows)
    ctx.recording = false
    try {
      ctx.call("append", "storage.append")(
        w.log.append(Gen.events(ctx.spark, ctx.seed, 0, WarmRows, 1)))
      queryPass(ctx, w, exp, BulkScan.bounds(ctx.seed, 1, WarmRows, 1).head)
      rebuild(ctx, w, exp)
    } finally ctx.recording = true
  }

  def discard(ctx: Ctx, s: State): Unit = Workload.deleteTree(s.dir)

  /** One planned read returning collected rows; `rows` = log rows its
    * seq range covers. */
  private def scan(ctx: Ctx, kind: String, covered: Long)(df: => DataFrame): Option[Array[Row]] =
    ctx.call(kind, null, (_: Array[Row]) => covered)(
      Workload.plannedRead(ctx)(df)(_.collect())(_.length.toLong))

  /** The fixed query set over the whole log; returns its read time (ms). */
  private def queryPass(ctx: Ctx, s: State, exp: Expected,
      bounds: Seq[(String, Long, Long)]): Double = {
    val before = ctx.calls.size
    val n = exp.n
    val all = exp.range(0, n)
    scan(ctx, "sum_all", n)(s.log.toDF.agg(count(lit(1)), sum("seq")))
      .foreach(rs => ctx.verify(Check.equal("sum(seq)",
        (rs(0).getLong(0), rs(0).getLong(1)), (all._1, all._2))))
    scan(ctx, "struct_drain", n)(s.log.toDF.agg(count(lit(1)),
      sum("value.user_id"), sum("value.amount")))
      .foreach(rs => ctx.verify(
        Check.equal("struct drain count, sum(user_id)",
          (rs(0).getLong(0), rs(0).getLong(1)), (all._1, all._3)) ++
          Check.close("struct drain sum(amount)", rs(0).getDouble(2), exp.amountSum)))
    ctx.call("ordered_drain", null, (_: Array[(Int, Long, Long, Long, Boolean)]) => n)(
      Workload.plannedRead(ctx)(s.log.query(SeqWrap(true)))(
        _.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
          var first = -1L; var last = -1L; var cnt = 0L; var sorted = true
          it.foreach { r =>
            val q = r.getLong(0)
            if (cnt == 0) first = q else if (q != last + 1) sorted = false
            last = q; cnt += 1
          }
          Iterator((i, first, last, cnt, sorted))
        }.collect())(_.length.toLong))
      .foreach(parts => ctx.verify {
        val ps = parts.filter(_._4 > 0).sortBy(_._1)
        val contiguous = ps.forall(_._5) &&
          ps.zip(ps.drop(1)).forall { case (a, b) => b._2 == a._3 + 1 }
        Check.equal("ordered drain (count, first, last, in order)",
          (ps.map(_._4).sum, ps.headOption.map(_._2), ps.lastOption.map(_._3), contiguous),
          (n, Some(0L), Some(n - 1), true))
      })
    for ((name, lo, w) <- bounds) {
      scan(ctx, name, w)(s.log.query(Gte(lo), Lt(lo + w), SeqWrap(true))
        .agg(count(lit(1)), sum("seq"), sum("value.user_id")))
        .foreach(rs => ctx.verify(Check.equal(s"$name [$lo, ${lo + w})",
          (rs(0).getLong(0), rs(0).getLong(1), rs(0).getLong(2)), exp.range(lo, lo + w))))
    }
    scan(ctx, "reverse_topk", 1000)(s.log.query(Reverse(true), Limit(1000), SeqWrap(true)))
      .foreach(rs => ctx.verify(Check.rows("reverse top 1000",
        rs.toSeq.map(Workload.logRow),
        (n - 1 to n - 1000 by -1).map(q => (q, Some(Gen.event(ctx.seed, q)))))))
    ctx.calls.drop(before).map(_.ns).sum / 1e6
  }

  private def rebuild(ctx: Ctx, s: State, exp: Expected): Unit = {
    ctx.call("pump_kv", "indexes.pump_kv", (x: Long) => x)(Workload.pumpKv(s.log, s.kv))
      .foreach(x => ctx.verify(Check.equal("kv rebuild rows", x, exp.n) ++
        Check.kv(Workload.kvState(s.kv), exp.kv)))
    ctx.call("pump_mlog", "indexes.pump_mlog", (x: Long) => x)(
      Workload.pumpMl(s.log, s.ml, s.mcur))
      .foreach(x => ctx.verify(Check.equal("mlog rebuild rows", x, exp.n) ++
        Check.digest("mlog view", Workload.mlDigest(s.ml), exp.sublogDigest)))
  }

  def run(ctx: Ctx, s: State): Outcome = {
    val exp = new Expected(ctx.seed, Rows)
    val per = Rows / Chunks
    val chunks = Workload.eventFiles(input(ctx))
    val passes = math.max(2, ctx.seconds / 4)
    val bounds = BulkScan.bounds(ctx.seed, 0, Rows, passes)
    val readSets = mutable.ArrayBuffer.empty[Double]
    val wall = ctx.timedWall {
      for (i <- 0 until Chunks) ctx.step("ingest") {
        val traced = ctx.tracer.on
        if (traced) ctx.untimed(s.watch.mark())
        ctx.call("append", "storage.append", (_: Long) => per)(
          s.log.append(ctx.spark.read.parquet(chunks(i))))
          .foreach(first => ctx.verify(Check.equal(s"chunk $i first seq", first, i * per)))
        if (traced) ctx.untimed(s.watch.update())
      }
      for (b <- bounds) ctx.step("query_pass") {
        readSets += queryPass(ctx, s, exp, b)
      }
      ctx.step("rebuild")(rebuild(ctx, s, exp))
    }
    ctx.checkOp("log consistency")(s.log.checkConsistency())

    val appends = ctx.of("append")
    val reads = ctx.calls.filter(c => BulkScan.Scans(c.kind)).toSeq
    val pumps = ctx.of("pump_kv", "pump_mlog")
    s.watch.mark()
    Outcome(
      Workload.endToEnd(ctx, wall, appends, readSets.toSeq),
      Seq("ops_per_s" -> M(ctx.calls.size / wall, "1/s", ctx.calls.size)) ++
        Stats.latency("append", appends) ++
        Stats.latency("query", reads) ++
        Seq(
          "ingest_rows_per_s" -> M(Stats.rate(appends), "1/s", appends.size),
          "scan_rows_per_s" -> M(Stats.rate(reads), "1/s", reads.size),
          "index_build_rows_per_s" -> M(Stats.rate(pumps), "1/s", pumps.size),
          Workload.failedFrac(ctx)),
      Map(
        "storage.append.files_written" -> s.watch.filesWritten.toDouble,
        "storage.append.bytes_written" -> s.watch.bytesWritten.toDouble,
        "storage.live_files" -> s.watch.liveFiles.toDouble,
        "storage.write_amp" -> (if (s.watch.liveGrowth > 0)
          s.watch.bytesWritten.toDouble / s.watch.liveGrowth else 0.0)))
  }
}

object BulkScan {
  /** Per query pass, the bounded scans `(name, lo, width)`: fixed
    * widths (0.1%, 10%, 50% of the log) at seeded offsets. */
  def bounds(seed: Long, salt: Long, n: Long, passes: Int): Seq[Seq[(String, Long, Long)]] = {
    val rng = new java.util.SplittableRandom(Gen.hash(seed, 200 + salt, 0))
    Seq.fill(passes) {
      Seq("scan_0.1pct" -> 0.001, "scan_10pct" -> 0.1, "scan_50pct" -> 0.5).map {
        case (name, frac) =>
          val w = math.max(1L, (n * frac).toLong)
          (name, rng.nextLong(n - w + 1), w)
      }
    }
  }

  val Scans: Set[String] = Set("sum_all", "struct_drain", "ordered_drain",
    "scan_0.1pct", "scan_10pct", "scan_50pct", "reverse_topk")
}
