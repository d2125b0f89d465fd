package graft.indexes

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.QuerySpec._
import graft.multilog.MultiLogApi
import graft.plans.OrderedLogScan
import graft.storage.ParquetLog

/** Derived-view builders: replay the log from a persisted cursor
  * through a user transform into an index — the reference's
  * `SinkIndex` (indexes/sinkindex.go:15-69) and multilog `Sink`
  * (multilog/sink.go:20-82) contract:
  *
  *   - resume: query the log with `Gt(savedSeq) + SeqWrap(true)`
  *     (indexes/sinkindex.go:29-37) — re-running after a stop
  *     processes only new entries (the "WithBreak" test contract,
  *     indexes/test/sinkindex.go:82-115)
  *   - nulled entries are skipped (indexes/sinkindex.go:51-55)
  *   - cursor saved after apply + idempotent upsert = exactly-once,
  *     strictly stronger than the reference's at-least-once
  *
  * The transform is set-oriented: it receives the whole new-entries
  * batch `(seq, value)` as a DataFrame and returns the update rows —
  * Spark's scale-out answer to the reference's per-entry
  * `StreamProcFunc`. For continuous operation the same transform runs
  * under Structured Streaming via [[graft.live.LiveTail]]; this batch
  * runner gives the synchronous replay/resume semantics the
  * conformance tests exercise.
  *
  * A small increment runs no Spark job from log read to index commit,
  * as the reference's in-process sink does: when `(from, top]` holds
  * at most [[graft.plans.OrderedLogScan.DriverCollectMaxRows]] entries
  * and the segments holding them pass the log's small-append cut
  * ([[graft.storage.ParquetLog.smallSpan]]), the batch is collected on
  * the driver ([[graft.plans.DriverLogCollectExec]]) and handed to the
  * transform as a local relation. Spark folds projections and filters
  * over it on the driver, and the index's [[graft.storage.TableStore]]
  * commits the folded rows with no write job. A larger increment, or
  * a transform Spark cannot fold (an aggregate, a join), runs as jobs.
  */
object SinkIndex {

  /** Pump new log entries through `proc` into a KV index.
    * `proc` maps a batch of `(seq, value, nulled)` rows to upsert rows
    * `(addr, value[, tombstone])`. Returns the number of log entries
    * consumed. */
  def pump(
      log: ParquetLog,
      idx: KV,
      proc: DataFrame => DataFrame
  ): Long = pump(log, idx, proc, OrderedLogScan.DriverCollectMaxRows)

  /** [[pump]] with the driver path's row bound; 0 forces the lazy
    * job-path batch. */
  private[graft] def pump(
      log: ParquetLog,
      idx: KV,
      proc: DataFrame => DataFrame,
      driverRowBound: Long
  ): Long = {
    val from = idx.getSeq
    val top = log.seq
    if (top <= from) return 0L
    val updates = proc(increment(log, from, top, driverRowBound))
    graft.storage.FaultPoints.reach("sink.pump.preApply")
    if (!updates.isEmpty) idx.applyBatch(updates)
    // CURSOR-AFTER discipline (the reference's SinkIndex,
    // indexes/sinkindex.go:39-50): a crash here re-processes (from,
    // top] next pump — exactly-once EFFECT via the idempotent upsert
    // (same updates, same per-addr winners), never a gap
    graft.storage.FaultPoints.reach("sink.pump.applied")
    idx.setSeq(top)
    top - from
  }

  /** The live entries `(seq, value, nulled)` of `(from, top]`, nulled
    * ones skipped. Lte(top) pins the batch to EXACTLY (from, top]: the
    * connector plans from the CURRENT manifest, so without the upper
    * bound an append racing the pump would be applied now but
    * re-processed next pump (idempotent, just wasted work) — bounded,
    * the cursor math and the batch agree by construction. Within
    * `driverRowBound` rows and the log's byte cut the entries are
    * collected on the driver, with no job, into a local relation;
    * else the lazy scan. */
  private[indexes] def increment(
      log: ParquetLog,
      from: Long,
      top: Long,
      driverRowBound: Long
  ): DataFrame = {
    val scan = log.query(Gt(from), Lte(top), SeqWrap(true))
    val batch =
      if (top - from > driverRowBound || !log.smallSpan(from, top)) scan
      else log.spark.createDataFrame(scan.collect().toSeq.asJava, scan.schema)
    batch.where(!col("nulled")) // skip redacted entries
  }
}

/** The multilog fan-out sink (multilog/sink.go:20-82): route each log
  * entry into zero or more sublogs. `fanout` maps the new-entries batch
  * `(seq, value, nulled)` to `(addr, seq)` index rows (the set-oriented
  * form of `multilog.Func`'s generator shape). A small increment
  * takes the same job-free driver path as [[SinkIndex]]. */
object MultiLogSink {

  def pump(
      log: ParquetLog,
      mlog: MultiLogApi,
      cursorOwner: KV,
      fanout: DataFrame => DataFrame
  ): Long = pump(log, mlog, cursorOwner, fanout,
    OrderedLogScan.DriverCollectMaxRows)

  /** [[pump]] with the driver path's row bound (see
    * [[SinkIndex.increment]]); 0 forces the lazy job-path batch. */
  private[graft] def pump(
      log: ParquetLog,
      mlog: MultiLogApi,
      cursorOwner: KV,
      fanout: DataFrame => DataFrame,
      driverRowBound: Long
  ): Long = {
    val from = cursorOwner.getSeq
    val top = log.seq
    if (top <= from) return 0L
    val rows = fanout(SinkIndex.increment(log, from, top, driverRowBound))
    graft.storage.FaultPoints.reach("mlogsink.pump.preAppend")
    if (!rows.isEmpty) mlog.appendBatch(rows)
    // cursor-after: a crash here replays the batch next pump; the
    // multilog dedups (addr, seq) on read, so the replayed rows are
    // invisible — the reference instead saves its cursor FIRST and
    // accepts losing the batch (multilog/sink.go:50-57); ours is the
    // strictly stronger side of that trade
    graft.storage.FaultPoints.reach("mlogsink.pump.appended")
    cursorOwner.setSeq(top)
    top - from
  }
}
