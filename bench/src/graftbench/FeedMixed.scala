package graftbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.GraftErrors.ErrNulled
import graft.core.QuerySpec._
import graft.indexes.KVIndex
import graft.live.LiveTail
import graft.multilog.MultiLog
import graft.storage.ParquetLog

/** The seeded op sequence of a feed run, fixed before timing. The
  * multiset of append sizes is the same for every seed (only their
  * order varies), so the rows a run writes do not depend on the seed. */
final case class FeedPlan(
    seedRows: Long,
    sizes: Vector[Int],
    gets: Vector[Vector[Long]],
    rangeLo: Vector[Long],
    addrs: Vector[String],
    users: Vector[String],
    nulls: Map[Int, Long]) {
  def cycles: Int = sizes.size

  /** Log top after cycle `c`'s append. */
  val tops: Vector[Long] = sizes.scanLeft(seedRows - 1)(_ + _).tail

  /** Every op of the plan, one per line. */
  def describe: String = (0 until cycles).map { c =>
    s"$c append ${sizes(c)}; get ${gets(c).mkString(",")}; " +
      s"range (${rangeLo(c)}, ${rangeLo(c) + FeedPlan.RangeSpan}) limit 100; " +
      s"reverse 20; sublog ${addrs(c)} 20; kv ${users(c)}" +
      nulls.get(c).fold("")(s => s"; null $s") +
      (if (FeedPlan.pumpAfter(c)) "; pump" else "")
  }.mkString("\n")
}

object FeedPlan {
  val RangeSpan = 151L
  val HotWindow = 500L
  def pumpAfter(c: Int): Boolean = c % 10 == 8
  def nullAt(c: Int): Boolean = c % 10 == 4

  def apply(seed: Long, salt: Long, seedRows: Long, cycles: Int): FeedPlan = {
    val rng = new java.util.SplittableRandom(Gen.hash(seed, 100 + salt, 0))
    val sizes = {
      val a = Array.tabulate(cycles)(i => 1 + math.round(63.0 * (i + 0.5) / cycles).toInt)
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.map(x => math.min(64, math.max(1, x))).toVector
    }
    val tops = sizes.scanLeft(seedRows - 1)(_ + _).tail
    val gets = Vector.tabulate(cycles) { c =>
      Vector.tabulate(3) { j =>
        val top = tops(c)
        // half the keys in the hot tail, half uniform over the log
        if ((3 * c + j) % 2 == 0) top - rng.nextLong(HotWindow)
        else rng.nextLong(top + 1)
      }
    }
    val rangeLo = tops.map(t => rng.nextLong(t - RangeSpan))
    val off = rng.nextInt(Gen.EventTypes.size)
    val addrs = Vector.tabulate(cycles)(c => Gen.EventTypes((c + off) % Gen.EventTypes.size))
    val users = Vector.fill(cycles)(rng.nextInt(Gen.Users).toString)
    val nulls = (0 until cycles).filter(nullAt).map(c => c -> rng.nextLong(tops(c) + 1)).toMap
    FeedPlan(seedRows, sizes, gets, rangeLo, addrs, users, nulls)
  }
}

/** The feed's live-tail subscriber: records every delivered seq and,
  * for each timed append, when its last seq arrived. */
final class Tail(log: ParquetLog, ckpt: String, val from: Long) {
  private val delivered = mutable.ArrayBuffer.empty[Long]
  @volatile private var lastSeen = from
  @volatile private var marks: Array[Long] = Array.empty
  @volatile private var startNs = new AtomicLongArray(0)
  @volatile private var doneNs = new AtomicLongArray(0)
  private var next = 0

  private def sink(r: Row): Unit = {
    val s = r.getLong(0)
    delivered.synchronized(delivered += s)
    lastSeen = s
    val m = marks
    while (next < m.length && m(next) <= s) {
      doneNs.set(next, System.nanoTime())
      next += 1
    }
  }

  val query: StreamingQuery =
    LiveTail.push(log, Seq(Gt(from), Live(true), SeqWrap(true)), ckpt, sink)

  /** Track delivery of the appends ending at `lastSeqs`, in order. */
  def expect(lastSeqs: Array[Long]): Unit = {
    startNs = new AtomicLongArray(lastSeqs.length)
    doneNs = new AtomicLongArray(lastSeqs.length)
    marks = lastSeqs
  }

  def appendStarted(i: Int): Unit =
    if (i < startNs.length) startNs.set(i, System.nanoTime())

  def latenciesMs: Seq[Double] = (0 until startNs.length).flatMap { i =>
    val (a, b) = (startNs.get(i), doneNs.get(i))
    if (a > 0 && b > 0) Some((b - a) / 1e6) else None
  }

  def awaitSeq(s: Long, timeoutMs: Long): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (lastSeen < s && System.currentTimeMillis() < end && query.isActive)
      Thread.sleep(5)
  }

  def seqs: Seq[Long] = delivered.synchronized(delivered.toList)

  def stop(): Unit = query.stop()
}

/** `feed_mixed`: small appends beside small reads on one log, the two
  * derived views pumped every 10th cycle and a live tail following
  * the log. One client thread in a closed loop. */
final class FeedMixed extends Workload {
  val SeedRows = 100000L
  val WarmupCycles = 2
  val setupRounds = 3

  private def seedInput(ctx: Ctx) = s"${ctx.work}/input/seed"

  final class State(val dir: String, val log: ParquetLog, val kv: KVIndex,
      val ml: MultiLog, val mcur: KVIndex, val model: LogModel, val tail: Tail) {
    val appendWatch = new DirWatch(s"$dir/log/data")
    val nullWatch = new DirWatch(s"$dir/log/data")
  }

  def prepare(ctx: Ctx): Unit =
    Workload.writeEvents(ctx, 0, SeedRows, ctx.spark.sparkContext.defaultParallelism,
      seedInput(ctx))

  def setup(ctx: Ctx, round: Int): State = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/feed$round"
    val log = ParquetLog.open(spark, s"$dir/log")
    log.append(Workload.readEvents(ctx, seedInput(ctx)))
    val model = new LogModel(ctx.seed)
    model.append(SeedRows)
    val (kv, ml, mcur) = (KVIndex.open(spark, s"$dir/kv"),
      MultiLog.open(spark, s"$dir/mlog"), KVIndex.open(spark, s"$dir/mcur"))
    val (k, m, want) = (Workload.pumpKv(log, kv), Workload.pumpMl(log, ml, mcur), model.pump())
    ctx.checkOp("setup pumps")(
      Check.equal("setup kv pump rows", k, want) ++ Check.equal("setup mlog pump rows", m, want))
    val tail = new Tail(log, s"$dir/ckpt", log.seq)
    tail.query.processAllAvailable()
    new State(dir, log, kv, ml, mcur, model, tail)
  }

  def warmup(ctx: Ctx, s: State): Unit = {
    val plan = FeedPlan(ctx.seed, 1, s.model.seq + 1, WarmupCycles)
    val fs = frames(ctx, plan)
    ctx.recording = false
    try (0 until plan.cycles).foreach(c => cycle(ctx, s, plan, fs, c))
    finally ctx.recording = true
  }

  def discard(ctx: Ctx, s: State): Unit = {
    s.tail.stop()
    Workload.deleteTree(s.dir)
  }

  private def frames(ctx: Ctx, plan: FeedPlan): Vector[DataFrame] =
    Vector.tabulate(plan.cycles) { c =>
      val hi = plan.tops(c) + 1
      Gen.localEvents(ctx.spark, ctx.seed, hi - plan.sizes(c), hi)
    }

  private def getCheck(model: LogModel, k: Long, r: Try[Row]): List[String] =
    (model.row(k), r) match {
      case ((_, None), Failure(_: ErrNulled)) => Nil
      case ((_, None), other) => List(s"get $k: want ErrNulled, got $other")
      case ((_, Some(_)), Success(row)) =>
        Check.rows(s"get $k", Seq(Workload.logRow(row)), Seq(model.row(k)))
      case ((_, Some(_)), Failure(e)) => List(s"get $k threw $e")
    }

  private def collectRead(ctx: Ctx, kind: String, layer: String)(
      df: => DataFrame): Option[Array[Row]] =
    ctx.call(kind, layer, (rs: Array[Row]) => rs.length.toLong)(
      Workload.plannedRead(ctx)(df)(_.collect())(_.length.toLong))

  /** One feed cycle; returns the time its reads took (ms). */
  private def cycle(ctx: Ctx, s: State, plan: FeedPlan, fs: Vector[DataFrame],
      c: Int): Double = ctx.step("cycle") {
    val m = s.model
    val traced = ctx.tracer.on
    val before = ctx.calls.size
    if (traced) ctx.untimed(s.appendWatch.mark())
    s.tail.appendStarted(c)
    val n = plan.sizes(c)
    ctx.call("append", "storage.append", (_: Long) => n.toLong)(s.log.append(fs(c)))
      .foreach { first =>
        ctx.verify(Check.equal("append first seq", first, m.seq + 1))
        m.append(n)
      }
    if (traced) ctx.untimed(s.appendWatch.update())
    for (k <- plan.gets(c))
      ctx.call("get", "storage.get", (_: Try[Row]) => 1L)(Try(s.log.get(k)))
        .foreach(r => ctx.verify(getCheck(m, k, r)))
    val lo = plan.rangeLo(c)
    collectRead(ctx, "range", null)(
      s.log.query(Gt(lo), Lt(lo + FeedPlan.RangeSpan), Limit(100), SeqWrap(true)))
      .foreach(rs => ctx.verify(Check.rows(s"range > $lo",
        rs.toSeq.map(Workload.logRow), (lo + 1 to lo + 100).map(m.row))))
    collectRead(ctx, "reverse", null)(s.log.query(Reverse(true), Limit(20), SeqWrap(true)))
      .foreach(rs => ctx.verify(Check.rows("reverse limit 20",
        rs.toSeq.map(Workload.logRow), (m.seq to m.seq - 19 by -1).map(m.row))))
    val addr = plan.addrs(c)
    collectRead(ctx, "sublog", "multilog.sublog_read")(
      s.ml.sublog(addr).query(Limit(20), SeqWrap(true)))
      .foreach(rs => ctx.verify(Check.equal(s"sublog $addr limit 20",
        rs.toSeq.map(r => (r.getLong(0), r.getLong(1))),
        m.sublog(addr).take(20).zipWithIndex.map { case (p, i) => (i.toLong, p) })))
    val user = plan.users(c)
    ctx.call("kv_get", "indexes.kv_get", (_: Option[String]) => 1L)(s.kv.get(user))
      .foreach(v => ctx.verify(Check.equal(s"kv get $user", v, m.kvGet(user))))
    val readMs = ctx.calls.drop(before).filter(x => FeedMixed.ReadSet(x.kind)).map(_.ns).sum / 1e6
    plan.nulls.get(c).foreach { k =>
      if (traced) ctx.untimed(s.nullWatch.mark())
      ctx.call("null", "storage.nullat")(s.log.nullAt(k)).foreach(_ => m.nullAt(k))
      if (traced) ctx.untimed(s.nullWatch.update())
      ctx.call("get_redacted", "storage.get", (_: Try[Row]) => 1L)(Try(s.log.get(k)))
        .foreach(r => ctx.verify(getCheck(m, k, r)))
    }
    if (FeedPlan.pumpAfter(c)) {
      val k = ctx.call("pump_kv", "indexes.pump_kv", (x: Long) => x)(
        Workload.pumpKv(s.log, s.kv))
      val ml = ctx.call("pump_mlog", "indexes.pump_mlog", (x: Long) => x)(
        Workload.pumpMl(s.log, s.ml, s.mcur))
      val want = m.pump()
      k.foreach(x => ctx.verify(Check.equal("kv pump rows", x, want) ++
        Check.kv(Workload.kvState(s.kv), m.kvState)))
      ml.foreach(x => ctx.verify(Check.equal("mlog pump rows", x, want) ++
        Check.digest("mlog view", Workload.mlDigest(s.ml), m.sublogDigest)))
    }
    readMs
  }

  def run(ctx: Ctx, s: State): Outcome = {
    val plan = FeedPlan(ctx.seed, 0, s.model.seq + 1, math.max(10, ctx.seconds))
    val fs = frames(ctx, plan)
    s.tail.expect(plan.tops.toArray)
    ctx.tracer.liveQueryId = s.tail.query.id.toString
    val readSets = mutable.ArrayBuffer.empty[Double]
    val wall = ctx.timedWall {
      (0 until plan.cycles).foreach(c => readSets += cycle(ctx, s, plan, fs, c))
    }
    s.tail.awaitSeq(s.model.seq, 60000)
    ctx.checkOp("tail delivery")(Check.tail(s.tail.seqs, s.tail.from, s.model.seq))
    s.tail.stop()
    ctx.checkOp("log consistency")(s.log.checkConsistency())

    val appends = ctx.of("append")
    val queries = ctx.of("range", "reverse", "sublog", "kv_get")
    val pumps = ctx.of("pump_kv", "pump_mlog")
    val tail = s.tail.latenciesMs
    val named = Seq(
      "ops_per_s" -> M(ctx.calls.size / wall, "1/s", ctx.calls.size)) ++
      Stats.latency("append", appends) ++
      Stats.latency("point_read", ctx.of("get", "get_redacted")) ++
      Stats.latency("query", queries) ++
      Seq(
        "tail_delivery_ms_p50" -> M(Stats.median(tail), "ms", tail.size),
        "tail_delivery_ms_p90" -> M(Stats.pct(tail, 0.9), "ms", tail.size),
        "ingest_rows_per_s" -> M(Stats.rate(appends), "1/s", appends.size),
        "scan_rows_per_s" -> M(Stats.rate(ctx.of("range", "reverse", "sublog")), "1/s",
          ctx.of("range", "reverse", "sublog").size),
        "index_build_rows_per_s" -> M(Stats.rate(pumps), "1/s", pumps.size),
        Workload.failedFrac(ctx))
    s.appendWatch.mark()
    Outcome(
      Workload.endToEnd(ctx, wall, appends, readSets.toSeq),
      named,
      Map(
        "storage.append.files_written" -> s.appendWatch.filesWritten.toDouble,
        "storage.append.bytes_written" -> s.appendWatch.bytesWritten.toDouble,
        "storage.live_files" -> s.appendWatch.liveFiles.toDouble,
        "storage.write_amp" -> (if (s.appendWatch.liveGrowth > 0)
          s.appendWatch.bytesWritten.toDouble / s.appendWatch.liveGrowth else 0.0),
        "storage.nullat.bytes_written" -> s.nullWatch.bytesWritten.toDouble))
  }
}

object FeedMixed {
  /** The reads of one cycle's read set (the post-redaction get is not). */
  val ReadSet: Set[String] = Set("get", "range", "reverse", "sublog", "kv_get")
}
