package graft.indexes

import scala.jdk.CollectionConverters._

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage.{SliceRead, TableStore}

/** Key→value derived view with observable-style reads and a persisted
  * resume cursor — the reference's index layer
  * (indexes/index.go:27-70) as an upsert table.
  *
  * Physical form: an append-only `(addr, value, tombstone)` change
  * table; `current` resolves last-write-wins per addr using the commit
  * version (`_ver`) plus intra-batch arrival order, and filters
  * tombstones — so `Set`, `Delete`, `Set` again replay to the right
  * state, and replayed batches (same version ordering) are idempotent:
  * exactly-once where the reference is only as good as its user funcs
  * (indexes/sinkindex.go:39-50).
  *
  * Each commit's segment files are sorted by `addr`, so the footer
  * statistics and page indexes narrow one key to the pages holding
  * it. Point reads ([[get]], [[getAsOf]]) and watcher deliveries read
  * those pages ON THE DRIVER ([[graft.storage.TableStore.slice]]) and
  * fold last-write-wins in memory — no Spark job — while the pruned
  * slice holds at most `driverRowBound` rows; a larger slice runs the
  * window plan as a job instead. [[current]] and [[currentAsOf]] are
  * always that window plan (one shuffle on addr).
  *
  * The resume cursor (`SetSeq`/`GetSeq`, indexes/index.go:63-70) is a
  * sidecar file committed AFTER the data batch, mirroring the
  * reference's cursor-after-apply = at-least-once, made exactly-once
  * by the idempotent upsert.
  */
final class KVIndex private[graft] (
    val spark: SparkSession,
    val dir: String,
    driverRowBound: Long
) extends KV {

  def this(spark: SparkSession, dir: String) =
    this(spark, dir, SliceRead.MaxRows)

  import KVIndex.{Addr, keyIs}

  private val store = TableStore.open(spark, dir, KVIndex.schema)
  private val io = graft.storage.FileIO.forPath(dir)
  private val seqPath = graft.storage.FileIO.join(dir, "cursor.seq")

  // Per-key observable registry (reference: indexes/index.go:27-38
  // returns an Observable per Get; obv.go:13-51 register/notify/GC)
  // lives in the KV trait (watcherReg) — in-process like the
  // reference's; cross-process consumers tail the change table itself
  // (TableStore streams the same parquet files).

  /** Apply a batch of upserts: DataFrame with columns
    * (addr STRING, value STRING[, tombstone BOOLEAN][, useq BIGINT]).
    * `useq` orders writes WITHIN the batch (e.g. the log seq that
    * produced the update); across batches the commit version orders.
    * Omitted useq = 0 (batch is unordered / single-write). */
  def applyBatch(df: DataFrame): Unit = {
    val (ticket, deliveries) = synchronized {
      val cols = df.columns
      require(cols.length >= 2,
        s"applyBatch needs (addr, value[, tombstone][, useq]) columns, " +
          s"got ${cols.mkString("(", ", ", ")")}")
      var out = df
      if (!cols.contains("tombstone"))
        out = out.withColumn("tombstone", lit(false))
      if (!cols.contains("useq"))
        out = out.withColumn("useq", lit(0L))
      val prepared = out.select(
        col(cols(0)).cast(StringType).as("addr"),
        col(cols(1)).cast(StringType).as("value"),
        col("tombstone").cast(BooleanType),
        col("useq").cast(LongType)
      ).where(col("addr").isNotNull) // null key = "don't index"
      val ver = store.append(prepared, sortWithin = Seq("addr"))
      // deliveries are computed BEFORE the ticket: watcherDeliveries
      // reads the committed files and can fail transiently, and a
      // ticket taken but never passed to deliverOrdered would stall
      // every later delivery on this index forever
      val deliveries = watcherDeliveries(ver)
      (takeDeliveryTicket(), deliveries)
    }
    // callbacks run OUTSIDE the index monitor (KV.deliverOrdered) so a
    // callback touching the index cannot deadlock against a writer
    deliverOrdered(ticket, deliveries)
  }

  /** Deliveries for the watched addrs a commit touched, read back from
    * the COMMITTED segment (`_ver = ver`) — never a re-evaluation of
    * the caller's DataFrame, whose plan could observe state the table
    * never had if its upstream source changed between the append and
    * the notify (and which would cost a second full evaluation of the
    * batch). The winning row per addr is the commit's highest useq.
    * Only when watchers exist: a driver slice of the commit's files,
    * or one tiny pruned job above the row bound. */
  private def watcherDeliveries(
      ver: Long
  ): Seq[(KV.Watcher, Option[String])] = {
    val watched = watcherReg.keySet.toSeq
    if (watched.isEmpty) return Nil
    val keys = watched.map(Binary.fromString).toSet.asJava
    val hits: Seq[(String, String, Boolean, Long)] = store
      .slice(FilterApi.in(Addr, keys), driverRowBound, version = Some(ver))
      .map(_.map(KVIndex.change))
      .getOrElse(store.readVersioned
        .where(col("_ver") === ver && col("addr").isin(watched: _*))
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
          r.getLong(3))))
    hits
      .groupBy(_._1)
      .toSeq
      .flatMap { case (addr, rows) =>
        val win = rows.maxBy(_._4)
        val v = if (win._3) None else Option(win._2)
        watcherReg.getOrElse(addr, Nil).map(_ -> v)
      }
  }

  /** Register a per-key observer (reference: indexes/index.go:27-38 +
    * obv.go:13-51): `cb` fires immediately with the key's current
    * state, then after every committed write to the key — tombstones
    * deliver `None` (the reference's UnsetValue). Cancel the returned
    * watcher to deregister. */
  def watch(addr: String)(cb: Option[String] => Unit): KV.Watcher =
    registerWatcher(addr, cb)

  /** CROSS-PROCESS per-key change stream — the scale-out complement to
    * the in-process [[watch]]: a Structured Streaming DataFrame of this
    * key's committed change rows `(addr, value, tombstone, useq, _ver)`
    * discovered from the change-table files, so a watcher in another
    * JVM (or on another machine over shared storage) sees every commit.
    * Order across commits by `_ver` (then `useq`); the latest row is
    * the current state, `tombstone` = unset. */
  def watchStream(addr: String): DataFrame =
    store.stream.where(col("addr") === addr)

  def set(addr: String, value: String): Unit = {
    import spark.implicits._
    applyBatch(Seq((addr, value, false)).toDF("addr", "value", "tombstone"))
  }

  /** Tombstone: observable returns to "unset" (indexes/index.go:49-53). */
  def delete(addr: String): Unit = {
    import spark.implicits._
    applyBatch(
      Seq((addr, null.asInstanceOf[String], true))
        .toDF("addr", "value", "tombstone")
    )
  }

  /** Materialized current state: last write per addr, tombstones
    * dropped. One shuffle on addr; at scale this is the standard
    * change-table → snapshot compaction and can be checkpointed via
    * `compact()`. */
  def current: DataFrame = currentWhere(lit(true))

  /** Last-write-wins snapshot restricted to `pred` — the predicate is
    * applied BELOW the window so it reaches the parquet scan (the job
    * path of a point read over a slice too big for the driver touches
    * one addr's row groups, not the whole change log). */
  private def currentWhere(pred: org.apache.spark.sql.Column): DataFrame =
    foldLww(store.readVersioned, pred)

  private def foldLww(
      versioned: DataFrame,
      pred: org.apache.spark.sql.Column
  ): DataFrame = {
    val w = Window
      .partitionBy("addr")
      .orderBy(col("_ver").desc, col("useq").desc)
    versioned
      .where(pred)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && !col("tombstone"))
      .select("addr", "value")
  }

  /** Point read; None = unset (the reference's `UnsetValue`). A
    * non-tombstone row whose value is SQL NULL also reads as None —
    * the same mapping notifyWatchers and MemKV apply, so the two
    * backends (and get-vs-watch on one backend) agree. Answered on
    * the driver from the key's pages (see the class doc). */
  def get(addr: String): Option[String] =
    store.slice(keyIs(addr), driverRowBound) match {
      case Some(rows) => KVIndex.winner(rows)
      case None =>
        currentWhere(col("addr") === addr).collect()
          .headOption.flatMap(r => Option(r.getString(1)))
    }

  /** The materialized index exactly as of commit `version`: the same
    * last-write-wins fold over the PLANNING-time-pruned snapshot read
    * ([[graft.storage.TableStore.readAsOf]]). Refused loudly when
    * `compact()` folded that history away. */
  def currentAsOf(version: Long): DataFrame =
    foldLww(store.readAsOf(version), lit(true))

  /** Point-in-time point read: the value `addr` had as of commit
    * `version`; None = unset at that version. */
  def getAsOf(addr: String, version: Long): Option[String] =
    store.slice(keyIs(addr), driverRowBound, asOf = Some(version)) match {
      case Some(rows) => KVIndex.winner(rows)
      case None =>
        foldLww(store.readAsOf(version), col("addr") === addr).collect()
          .headOption.flatMap(r => Option(r.getString(1)))
    }

  /** The store's latest commit version (pair with [[getAsOf]] /
    * [[currentAsOf]] to pin a reproducible read). */
  def version: Long = store.version

  /** Fold the change log into a single compacted snapshot segment. */
  def compact(): Unit = {
    val snap = current
      .withColumn("tombstone", lit(false))
      .withColumn("useq", lit(0L))
      .select("addr", "value", "tombstone", "useq")
    store.rewrite(_ => snap, sortWithin = Seq("addr"))
  }

  /** Persisted resume cursor (SetSeq/GetSeq, indexes/index.go:63-70). */
  def setSeq(seq: Long): Unit =
    io.writeAtomic(
      seqPath,
      seq.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      () => graft.storage.FaultPoints.reach("kv.cursor.tmpWritten"))

  def getSeq: Long =
    if (io.exists(seqPath)) io.readString(seqPath).trim.toLong
    else graft.core.Seqs.SeqEmpty
}

object KVIndex {

  val schema: StructType = StructType(
    Seq(
      StructField("addr", StringType, nullable = false),
      StructField("value", StringType, nullable = true),
      StructField("tombstone", BooleanType, nullable = false),
      StructField("useq", LongType, nullable = false)
    )
  )

  def open(spark: SparkSession, dir: String): KVIndex =
    new KVIndex(spark, dir)

  private val Addr = FilterApi.binaryColumn("addr")

  private def keyIs(addr: String): FilterPredicate =
    FilterApi.eq(Addr, Binary.fromString(addr))

  /** One on-disk change row `(addr, value, tombstone, useq, _ver)` of a
    * driver slice, as `(addr, value, tombstone, useq)`. */
  private def change(r: InternalRow): (String, String, Boolean, Long) =
    (r.getUTF8String(0).toString,
      if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
      r.getBoolean(2), r.getLong(3))

  /** Last-write-wins over one key's change rows, as the window in
    * `foldLww` orders them: highest `(_ver, useq)`; a tombstone or a
    * NULL value reads as unset. */
  private def winner(rows: Seq[InternalRow]): Option[String] =
    if (rows.isEmpty) None
    else {
      val w = rows.maxBy(r => (r.getLong(4), r.getLong(3)))
      if (w.getBoolean(2) || w.isNullAt(1)) None
      else Some(w.getUTF8String(1).toString)
    }
}
