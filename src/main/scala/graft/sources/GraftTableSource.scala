package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.connector.catalog.{
  SupportsRead, Table, TableCapability, TableProvider
}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder,
  Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics
}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.GraftConf
import graft.storage.Manifest

/** DataSourceV2 connector for manifest-committed CHANGE TABLES
  * ([[graft.storage.TableStore]] dirs — the storage under MultiLog
  * index tables and KVIndex upsert tables):
  * {{{ spark.readStream.format("graft-table").load(dir) }}}
  *
  * The streaming leg is VERSION-offset, not file-discovery: offsets
  * are manifest commit versions, each micro-batch delivers exactly
  * the segments with `_ver ∈ (start, end]`, planned fresh from the
  * manifest. Commits are delivered ATOMICALLY (admission control
  * clamps at whole-version boundaries), in commit order, exactly
  * once — the re-discovery reorder problems of tailing the raw
  * `data/` dir with a file stream don't exist here. A `rewrite`
  * (delete/compact) folds surviving history into a NEW version,
  * which IS re-delivered — that is the rewrite's meaning; consumers
  * fold by (`_ver`, key) or use a guarded tail
  * ([[graft.live.SublogTail]]'s high-water mark).
  *
  * Batch reads serve the committed table (all segments), with exact
  * manifest statistics so a small index table auto-broadcasts in
  * joins. Column pruning reaches the parquet page reads, as in
  * [[GraftLogSource]]. */
class GraftTableSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  private def dirOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-table requires .load(<table dir>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTableSource.schemaOf(dirOf(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]
  ): Table =
    new GraftTableTable(properties.get("path"), schema)

  override def supportsExternalMetadata(): Boolean = false
}

object GraftTableSource {
  /** On-disk schema: the table's logical columns plus the physical
    * `_ver` commit-version column every segment carries. */
  private[sources] def schemaOf(dir: String): StructType = {
    val m = Manifest
      .load(dir)
      .getOrElse(throw new IllegalArgumentException(s"no table manifest in $dir"))
    StructType(
      DataType.fromJson(m.valueSchemaJson).asInstanceOf[StructType].fields :+
        StructField("_ver", LongType, nullable = false))
  }
}

final class GraftTableTable(dir: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-table `$dir`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftTableScanBuilder(dir, tableSchema,
      Option(options.get("maxPartitionBytes")),
      GraftConf.longOption(options, "maxBytesPerTrigger"),
      GraftConf.intOption(options, "maxSegmentsPerTrigger"),
      GraftConf.longOption(options, "versionAsOf"))
}

final class GraftTableScanBuilder(
    dir: String,
    schema: StructType,
    maxPartitionBytesOpt: Option[String],
    maxBytesPerTrigger: Option[Long],
    maxSegmentsPerTrigger: Option[Int],
    versionAsOf: Option[Long]
) extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pruned: StructType = schema
  private var aggKinds: Option[Seq[MetaAgg.Kind]] = None

  // ONE manifest snapshot per ScanBuilder: `metaExact` (pushdown
  // admission) and `build()` (the MetaAgg arithmetic / the scan's
  // planning) must read the SAME segment list — a compactSmall
  // committing between pushAggregation and build() could otherwise
  // let a versionAsOf count/min/max(_ver) be answered from a merged
  // entry whose version range straddles the snapshot cut (silent
  // overcount). Readers are concurrent with the single writer by
  // design, so the race is real.
  private lazy val manifestSnap: Option[Manifest] = Manifest.load(dir)

  /** COMPLETE aggregate pushdown from the manifest: the (snapshot-
    * scoped) segment list carries exact row counts and per-segment
    * `_ver` stats, so count(*) / min/max(_ver) are metadata
    * arithmetic — a table-size check or "current version" probe opens
    * zero files. `_ver` repeats across rows, so `count(distinct)` is
    * refused (MetaAgg keyUnique=false). Anything else plans the
    * normal scan. */
  /** Metadata arithmetic is only exact when no selected segment
    * SPANS the snapshot cut: a minor fold merges several versions
    * into one segment, and a `versionAsOf` strictly inside its range
    * would overcount from entry rows — such snapshots plan the real
    * scan (whose reader row-cuts exactly) instead. Current-table
    * reads are always exact (every selected segment is fully in). */
  private def metaExact: Boolean = versionAsOf.forall { v =>
    manifestSnap.forall(
      _.segments.filter(_.minSeq <= v).forall(_.maxSeq <= v))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Boolean =
    MetaAgg.translate(agg, "_ver", keyUnique = false).isDefined && metaExact

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Boolean =
    MetaAgg.translate(agg, "_ver", keyUnique = false)
      .filter(_ => metaExact) match {
      case some @ Some(_) => aggKinds = some; true
      case None => false
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = GraftLogSource.readColumns(schema, requiredSchema)

  override def build(): Scan = {
    aggKinds.foreach { kinds =>
      val scan = new GraftTableScan(dir, schema, maxPartitionBytesOpt,
        maxBytesPerTrigger, maxSegmentsPerTrigger, versionAsOf,
        manifestSnapshot = Some(manifestSnap))
      // min/max over segments that CARRY rows only: a zero-row commit
      // (empty append, limit(0) rewrite) records a version no row
      // has — including it would report a min/max the scan never
      // returns. count is unaffected (0-row segments add 0).
      val segs = scan.snapshotSegments
      val occupied = segs.filter(_.rows > 0)
      return MetaAgg.scan(s"graft-table $dir", kinds,
        count = segs.map(_.rows).sum,
        min = occupied.map(_.minSeq).min,
        max = occupied.map(_.maxSeq).max)
    }
    new GraftTableScan(dir, pruned, maxPartitionBytesOpt,
      maxBytesPerTrigger, maxSegmentsPerTrigger, versionAsOf,
      manifestSnapshot = Some(manifestSnap))
  }
}

final class GraftTableScan(
    dir: String,
    scanSchema: StructType,
    maxPartitionBytesOpt: Option[String],
    maxBytesPerTrigger: Option[Long],
    maxSegmentsPerTrigger: Option[Int],
    versionAsOf: Option[Long] = None,
    manifestSnapshot: Option[Option[Manifest]] = None
) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = scanSchema
  override def toBatch: Batch = this

  // one manifest per Scan: statistics, the pushed-agg arithmetic and
  // the planned partitions all answer from the SAME snapshot (and a
  // plan stops re-listing the manifest once per consumer)
  private lazy val manifest: Option[Manifest] =
    manifestSnapshot.getOrElse(Manifest.load(dir))

  /** Snapshot (time-travel) reads: `versionAsOf = v` serves exactly
    * the segments of commit versions `1..v` ([[Manifest.asOf]], which
    * refuses a snapshot a rewrite folded away), pruned at PLANNING
    * time (statistics and partitions both see the snapshot). */
  private def segments: List[graft.storage.Segment] = {
    val m = manifest match {
      case Some(m) => m
      case None => return Nil
    }
    versionAsOf match {
      case None => m.segments
      case Some(v) => m.asOf(v)
    }
  }

  /** The snapshot-scoped segment list (exact rows + version stats) —
    * the metadata the aggregate pushdown answers from. */
  private[sources] def snapshotSegments: List[graft.storage.Segment] = segments

  override def estimateStatistics(): Statistics = {
    val segs = segments
    val rows = segs.map(_.rows).sum
    val bytes = segs.map(SegmentPacking.segmentSize(dir, _)).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** The snapshot's segments packed into partitions, once per scan:
    * [[planInputPartitions]] and [[description]] share it. */
  private lazy val packed: Seq[SegmentPacking.PackedGroup] =
    SegmentPacking.pack(maxPartitionBytesOpt, dir, segments,
      filterCol = "_ver", sharedRangeSplits = true)

  override def planInputPartitions(): Array[InputPartition] = {
    val segs = segments
    // a snapshot that cuts INSIDE a minor-folded (version-spanning)
    // segment needs a row-level `_ver <= v` cut; applied to EVERY
    // partition of the scan (never a mix) so columnar support stays
    // uniform across the scan, as Spark requires. Snapshots whose
    // selected segments all lie fully below the cut — and all
    // current-table reads — keep the uncut columnar fast path.
    val vCut = versionAsOf.filter(v => segs.exists(_.maxSeq > v))
    packed
      .map { g =>
        LogSegmentPartition(dir, g.paths, g.minSeq, g.maxSeq,
          hiSeq = vCut.getOrElse(Long.MaxValue),
          splitStart = g.splitStart, splitEnd = g.splitEnd)
      }
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(scanSchema, filterCol = "_ver", columnar = ColumnarOpt.enabled)

  override def description(): String =
    s"graft-table $dir" +
      (if (streaming) "" else SegmentPacking.describe(packed))

  // a stream packs each micro-batch itself (see GraftLogScan)
  @volatile private var streaming = false

  override def toMicroBatchStream(
      checkpointLocation: String
  ): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    streaming = true
    require(versionAsOf.isEmpty,
      "versionAsOf is a batch snapshot option; a stream follows the live " +
        "table (bound its catch-up with maxSegments/maxBytesPerTrigger)")
    new GraftTableMicroBatchStream(dir, scanSchema, maxPartitionBytesOpt,
      maxBytesPerTrigger, maxSegmentsPerTrigger)
  }
}

/** Version-offset micro-batches: each batch = the segments of commit
  * versions `(start, end]`. Admission control clamps at WHOLE-version
  * boundaries (a commit is never split across batches — downstream
  * folds see every commit atomically), always admitting at least one
  * pending version so the stream can't stall. */
final class GraftTableMicroBatchStream(
    dir: String,
    schema: StructType,
    maxPartitionBytesOpt: Option[String],
    maxBytesPerTrigger: Option[Long],
    maxSegmentsPerTrigger: Option[Int]
) extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{
    CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes,
    ReadMaxFiles
  }

  private case class VerOffset(ver: Long) extends Offset {
    override def json(): String = ver.toString
  }

  // Trigger.AvailableNow drain target: fixed at query start, paced
  // below it by admission control (see GraftLogMicroBatchStream)
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(Manifest.load(dir).map(_.version).getOrElse(0L))

  override def initialOffset(): Offset = VerOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) should be called instead of this")

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxBytesPerTrigger.map { b =>
        require(b > 0, s"maxBytesPerTrigger must be > 0 (got $b)")
        ReadLimit.maxBytes(b)
      },
      maxSegmentsPerTrigger.map { f =>
        require(f > 0, s"maxSegmentsPerTrigger must be > 0 (got $f)")
        ReadLimit.maxFiles(f)
      }
    ).flatten
    limits match {
      case Nil => ReadLimit.allAvailable()
      case one :: Nil => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[VerOffset].ver
    val m = Manifest.load(dir).getOrElse(return VerOffset(lo))
    val hi = availableNowTarget
      .map(math.min(_, m.version)).getOrElse(m.version)
    if (hi <= lo) return VerOffset(lo)
    // pending work selected by CONTENT RANGE, matching what
    // planInputPartitions will actually scan: a minor-folded segment
    // SPANNING `lo` still has undelivered versions (and its whole
    // file is re-scanned by every batch that overlaps it), so its
    // cost must count against the trigger budget — selecting by first
    // version (`minSeq > lo`) would admit all its undelivered
    // versions in one free jump right after a fold. Each pending
    // segment is charged at its FIRST undelivered version.
    val byVer = m.segments.filter(s => s.maxSeq > lo)
      .groupBy(s => math.max(s.minSeq, lo + 1)).toSeq
      .sortBy(_._1)
    def admit(cost: graft.storage.Segment => Long, budget: Long): Long = {
      var end = lo
      var left = budget
      var first = true
      var stopped = false
      var stopVer = hi + 1
      byVer.foreach { case (ver, segs) =>
        if (!stopped) {
          val c = segs.map(cost).sum
          if (first || c <= left) { end = ver; left -= c }
          else { stopped = true; stopVer = ver }
          first = false
        }
      }
      // versions with no segments (empty commits) advance freely up
      // to the next costed version: when admission stopped, the
      // offset may still advance to just below the first UNADMITTED
      // segment's version (already-charged spanning segments and
      // empty commits fill the gap); when nothing stopped it, all
      // pending content is admitted and the offset reaches `hi`
      if (!stopped) hi else math.max(end, stopVer - 1)
    }
    def clamp(l: ReadLimit): Long = l match {
      case b: ReadMaxBytes =>
        admit(SegmentPacking.segmentSize(dir, _), b.maxBytes())
      case f: ReadMaxFiles => admit(_ => 1L, f.maxFiles().toLong)
      case c: CompositeReadLimit => c.getReadLimits.map(clamp).min
      case _: ReadAllAvailable => hi
      case _ => hi
    }
    VerOffset(math.max(lo, math.min(hi, clamp(limit))))
  }

  override def reportLatestOffset(): Offset =
    VerOffset(Manifest.load(dir).map(_.version).getOrElse(0L))

  // flipped when Spark RESTORES an offset from the checkpoint log:
  // deserializeOffset is only ever invoked on a restart, never on a
  // fresh start (no offset log to read) — so "restored && lo == 0"
  // identifies a crash-REPLAY of batch 0 (foreachBatch ran, commit log
  // didn't advance), which must NOT get fresh-start leniency below: a
  // fold landing in that window would make the replayed batch deliver
  // different rows than the original
  @volatile private var restoredFromCheckpoint = false

  override def deserializeOffset(json: String): Offset = {
    restoredFromCheckpoint = true
    VerOffset(json.trim.toLong)
  }

  override def planInputPartitions(
      start: Offset,
      end: Offset
  ): Array[InputPartition] = {
    val lo = start.asInstanceOf[VerOffset].ver // exclusive
    val hi = end.asInstanceOf[VerOffset].ver // inclusive
    if (hi <= lo) return Array.empty
    val m = Manifest.load(dir).getOrElse(return Array.empty)
    // a rewrite that folded versions this stream ALREADY DELIVERED
    // PAST must fail loudly here — the reader-side fold refusal only
    // fires when a planned file vanishes AFTER planning; landing
    // before planning would otherwise commit a silently empty (or
    // partial) batch. A genuinely FRESH stream (lo == 0 and no offset
    // was restored from a checkpoint) is SAFE to serve: the fold
    // segment carries all surviving history and nothing was delivered
    // before it, so the refusal must not fire — otherwise any table
    // that was ever compacted would refuse every NEW stream forever,
    // and the "restart against the current table" advice below could
    // never succeed. A RESTORED lo == 0 is different: batch 0 was
    // already delivered once (offset written, commit log not), so a
    // fold landing before the replay would silently hand the
    // at-least-once consumer a batch 0 with different rows — refused.
    m.foldedBelow
      .filter(f => (lo > 0 || restoredFromCheckpoint) && f > lo + 1)
      .foreach { f =>
      throw new IllegalStateException(
        s"versions in (${lo}, ${hi}] were folded into version $f by a " +
          "concurrent rewrite (compact/delete); this stream cannot be " +
          "served exactly-once — restart it against the current table")
    }
    // selection by CONTENT RANGE, not first version: a minor fold
    // (TableStore.compactSmall) merges several versions into one
    // segment with a spanning [minSeq, maxSeq] — its undelivered
    // rows must still be served, and re-planning a crashed batch
    // against the folded manifest must yield the identical rows
    // (the fold preserves every row's `_ver`)
    val segs = m.segments.filter(s => s.maxSeq > lo && s.minSeq <= hi)
    // cutImplied: when every planned segment lies FULLY inside
    // (lo, hi], present files need no row filtering and the batch may
    // be served vectorized; a spanning (minor-folded) segment needs
    // the row-level `_ver` cut — applied to EVERY partition of this
    // batch (uniform columnar support, as Spark requires). The cut
    // always scopes the vanished-file re-resolution fallback.
    val implied = segs.forall(s => s.minSeq > lo && s.maxSeq <= hi)
    SegmentPacking
      .pack(maxPartitionBytesOpt, dir, segs, filterCol = "_ver",
        sharedRangeSplits = true)
      .map { g =>
        LogSegmentPartition(dir, g.paths, g.minSeq, g.maxSeq,
          loSeq = lo + 1, hiSeq = hi,
          splitStart = g.splitStart, splitEnd = g.splitEnd,
          cutImplied = implied)
      }
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(schema, filterCol = "_ver", columnar = ColumnarOpt.enabled)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
