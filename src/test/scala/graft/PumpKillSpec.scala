package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.indexes.{KVIndex, MultiLogSink, SinkIndex}
import graft.multilog.MultiLog
import graft.storage.{FaultPoints, ParquetLog}

/** Kill-point matrix for the DERIVED-VIEW pumps — the layer between
  * the storage committers (KillPointSpec's 20-boundary matrix) and the
  * user-visible resume contract (q40/q46). The reference has two
  * cursor disciplines here and they differ exactly in the
  * crash-between-effect-and-cursor window:
  *
  *   - multilog Sink saves the cursor FIRST (multilog/sink.go:50-57,
  *     cursor-before): a crash after the cursor write but before the
  *     effect LOSES the batch (at-most-once);
  *   - SinkIndex saves the cursor AFTER the effect
  *     (indexes/sinkindex.go:39-50, cursor-after): a crash in the
  *     window REPLAYS the batch (at-least-once).
  *
  * Both of our pumps are cursor-after + idempotent effect (KV upsert's
  * per-addr winner is stable under replay; the multilog dedups
  * (addr, seq) on read), which upgrades at-least-once to exactly-once
  * EFFECT. This spec interrupts a real pump at every boundary —
  * before the sink commit, INSIDE the sink table's own storage commit,
  * between sink commit and cursor advance, and mid-cursor-write —
  * discards the handles (crash model), reopens from disk, re-pumps,
  * and asserts: no duplicates, no gaps, final state byte-equal to a
  * never-crashed run, and the cursor resumes onward correctly.
  *
  * The matrix runs on both pump routes: the 20-row fixture's increment
  * takes the job-free driver route by default, and a row bound of 0
  * forces the job route (`(job path)` in the test name); the replay
  * must stay on its route.
  */
class PumpKillSpec extends SparkSpec {

  private final class Injected(val point: String)
      extends RuntimeException(s"injected fault at $point")

  private def killAt(point: String, nth: Int = 1): Unit = {
    val count = new AtomicInteger
    FaultPoints.install { p =>
      if (p == point && count.incrementAndGet() == nth)
        throw new Injected(p)
    }
  }

  private def expectInjected(op: => Unit): Unit = {
    val e = intercept[RuntimeException](op)
    def injected(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[Injected] || injected(t.getCause))
    assert(injected(e), s"expected the injected fault to surface, got $e")
  }

  /** Run a test body with the hook guaranteed cleared afterwards,
    * even when an assertion between install and the explicit clear
    * fails (suites share one process-global hook slot). */
  private def withCleanHooks(body: => Unit): Unit =
    try body finally FaultPoints.clear()

  /** Fresh log with seqs 0..19, values seq*3. */
  private def newLog(dir: String): ParquetLog = {
    import spark.implicits._
    val log = ParquetLog.open(spark, dir, IntegerType)
    log.appendValues((0 until 20).map(_ * 3))
    log
  }

  private def kvProc(b: DataFrame): DataFrame = b.select(
    pmod(col("value"), lit(5)).cast("string").as("addr"),
    col("value").cast("string").as("value"),
    col("seq").as("useq")
  )

  private def fanProc(b: DataFrame): DataFrame = b.select(
    pmod(col("value"), lit(5)).cast("string").as("addr"),
    col("seq")
  )

  private def kvState(kv: KVIndex): Set[(String, String)] =
    kv.current.collect().toSet.map { r: org.apache.spark.sql.Row =>
      (r.getString(0), r.getString(1))
    }

  private def mlogState(m: MultiLog): Seq[(String, Long)] =
    m.table.orderBy("addr", "seq").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))

  /** Each pump route: its test-name tag and its driver row bound. */
  private val routes = Seq(
    "" -> graft.plans.OrderedLogScan.DriverCollectMaxRows,
    " (job path)" -> 0L)

  /** `pump`'s result, asserting it ran no Spark job on the driver
    * route (`bound` > 0) and some on the job route. */
  private def onRoute(bound: Long)(pump: => Long): Long = {
    var n = 0L
    val jobs = jobsDuring { n = pump }
    assert((jobs == 0) == (bound > 0), s"row bound $bound: the pump ran $jobs jobs")
    n
  }

  // --------------------------------------------------------------
  // SinkIndex.pump (KV index; cursor-after, idempotent upsert)
  // --------------------------------------------------------------
  private val sinkKills = Seq(
    "sink.pump.preApply",     // nothing applied yet
    "table.append.preCommit", // INSIDE the KV change-table commit
    "sink.pump.applied",      // THE window: applied, cursor not moved
    "kv.cursor.tmpWritten"    // cursor tmp written, not atomically moved
  )

  for (point <- sinkKills; (route, bound) <- routes)
    test(s"SinkIndex.pump$route killed at $point: replay = exactly-once effect") { withCleanHooks {
      val logDir = tmpDir("pk-sink-log")
      val log = newLog(logDir)
      // the never-crashed oracle run
      val cleanKv = KVIndex.open(spark, tmpDir("pk-sink-clean"))
      assert(SinkIndex.pump(log, cleanKv, kvProc) == 20L)
      val oracle = kvState(cleanKv)
      assert(oracle.nonEmpty)

      val kvDir = tmpDir("pk-sink-kv")
      val kv = KVIndex.open(spark, kvDir)
      killAt(point)
      expectInjected(SinkIndex.pump(log, kv, kvProc, bound))
      FaultPoints.clear()

      // crash model: discard handles, reopen from disk
      val log2 = ParquetLog.open(spark, logDir, IntegerType)
      val kv2 = KVIndex.open(spark, kvDir)
      // the cursor NEVER advanced (cursor-after): the whole range is
      // still owed, so nothing can be lost
      assert(kv2.getSeq == graft.core.Seqs.SeqEmpty,
        s"cursor advanced before effect completed at $point")
      // re-pump consumes the full range and converges to the oracle
      assert(onRoute(bound)(SinkIndex.pump(log2, kv2, kvProc, bound)) == 20L)
      assert(kv2.getSeq == 19L)
      assert(kvState(kv2) == oracle, s"replay diverged after kill at $point")
      // one current row per addr — replay created no duplicates
      val addrs = kv2.current.select("addr").collect().map(_.getString(0))
      assert(addrs.length == addrs.distinct.length)
      // the cursor resumes ONWARD: only new entries consumed next
      import spark.implicits._
      log2.appendValues(Seq(300, 303))
      assert(onRoute(bound)(SinkIndex.pump(log2, kv2, kvProc, bound)) == 2L)
      assert(kv2.getSeq == 21L)
    } }

  // --------------------------------------------------------------
  // MultiLogSink.pump (fan-out; cursor-after, dedup-on-read)
  // --------------------------------------------------------------
  private val mlogKills = Seq(
    "mlogsink.pump.preAppend",
    "table.append.preCommit", // INSIDE the multilog table's commit
    "mlogsink.pump.appended", // appended, cursor not moved
    "kv.cursor.tmpWritten"
  )

  for (point <- mlogKills; (route, bound) <- routes)
    test(s"MultiLogSink.pump$route killed at $point: replay = no dupes, no gaps") { withCleanHooks {
      val logDir = tmpDir("pk-mlog-log")
      val log = newLog(logDir)
      val cleanM = MultiLog.open(spark, tmpDir("pk-mlog-clean"))
      val cleanCur = KVIndex.open(spark, tmpDir("pk-mlog-ccur"))
      assert(MultiLogSink.pump(log, cleanM, cleanCur, fanProc) == 20L)
      val oracle = mlogState(cleanM)
      assert(oracle.size == 20)

      val mDir = tmpDir("pk-mlog-m")
      val curDir = tmpDir("pk-mlog-cur")
      val m = MultiLog.open(spark, mDir)
      val cur = KVIndex.open(spark, curDir)
      killAt(point)
      expectInjected(MultiLogSink.pump(log, m, cur, fanProc, bound))
      FaultPoints.clear()

      val log2 = ParquetLog.open(spark, logDir, IntegerType)
      val m2 = MultiLog.open(spark, mDir)
      val cur2 = KVIndex.open(spark, curDir)
      assert(cur2.getSeq == graft.core.Seqs.SeqEmpty,
        s"cursor advanced before effect completed at $point")
      assert(onRoute(bound)(MultiLogSink.pump(log2, m2, cur2, fanProc, bound)) == 20L)
      assert(cur2.getSeq == 19L)
      // exact set: every (addr, seq) exactly once — the replayed rows
      // after an appended-but-uncursored crash are deduped on read
      assert(mlogState(m2) == oracle, s"replay diverged after kill at $point")
      // onward resume
      import spark.implicits._
      log2.appendValues(Seq(300, 303))
      assert(onRoute(bound)(MultiLogSink.pump(log2, m2, cur2, fanProc, bound)) == 2L)
      assert(mlogState(m2).size == 22)
    } }

  test("mid-cursor crash leaves a torn cursor tmp that a rewrite replaces") { withCleanHooks {
    // kv.cursor.tmpWritten leaves cursor.seq.tmp on disk; the next
    // successful setSeq overwrites it (REPLACE_EXISTING) — the torn
    // tmp can never be read as the cursor (getSeq only reads the
    // committed cursor.seq)
    val logDir = tmpDir("pk-torn-log")
    val log = newLog(logDir)
    val kvDir = tmpDir("pk-torn-kv")
    val kv = KVIndex.open(spark, kvDir)
    killAt("kv.cursor.tmpWritten")
    expectInjected(SinkIndex.pump(log, kv, kvProc))
    FaultPoints.clear()
    assert(Files.exists(Paths.get(kvDir, "cursor.seq.tmp")),
      "expected the torn cursor tmp on disk")
    val kv2 = KVIndex.open(spark, kvDir)
    assert(kv2.getSeq == graft.core.Seqs.SeqEmpty)
    assert(SinkIndex.pump(ParquetLog.open(spark, logDir, IntegerType), kv2, kvProc) == 20L)
    assert(kv2.getSeq == 19L)
    assert(!Files.exists(Paths.get(kvDir, "cursor.seq.tmp")),
      "successful cursor write must consume the tmp")
  } }
}
