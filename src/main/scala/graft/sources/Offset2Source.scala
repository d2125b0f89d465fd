package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, Table, TableCapability, TableProvider
}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, Statistics, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportStatistics
}
import org.apache.spark.sql.sources.{
  DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual,
  LessThan, LessThanOrEqual
}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.compat.Offset2
import graft.core.GraftConf

/** DataSourceV2 READ connector for the reference's `offset2` on-disk
  * format — the migration path IN:
  * {{{ spark.read.format("graft-offset2").load(dir) }}}
  * yields `(seq, value, nulled)` from a `data`/`ofst`/`jrnl` triple
  * (byte layout: `offset2/log.go:5-27`; open-time journal check +
  * crash recovery: [[graft.compat.Offset2.check]]).
  *
  * Scan shape: the log is byte-balanced into entry ranges by binary
  * search over the sorted on-disk `ofst` array
  * ([[Offset2.planRanges]] — O(parts × log n) driver reads), one
  * input partition per range, each a single sequential frame walk
  * over its `data` slice. Pushed seq bounds CLIP partitions at
  * planning time (`ofst` maps seq → byte directly, so a bounded scan
  * reads only its frames' bytes), and are also kept as residuals —
  * pruning is an optimization, never a semantics change. A
  * `maxPartitionBytes` scan option overrides the file-source-style
  * parallelism target. Read-only by design: appends belong to the
  * engine's own log (import with this source, then write through
  * `graft-log`); export back to offset2 is
  * [[graft.compat.Offset2.export]]. */
class Offset2Source extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-offset2"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Offset2Source.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]
  ): Table = {
    val dir = properties.get("path")
    require(dir != null, "graft-offset2 requires .load(<dir>)")
    new Offset2Table(dir)
  }
}

object Offset2Source {
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("value", BinaryType, nullable = true),
    StructField("nulled", BooleanType, nullable = false)))
}

final class Offset2Table(dir: String) extends Table with SupportsRead {
  override def name(): String = s"offset2 `$dir`"
  override def schema(): StructType = Offset2Source.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Offset2ScanBuilder(dir, Option(options.get("maxPartitionBytes")),
      GraftConf.longOption(options, "maxEntriesPerTrigger"),
      GraftConf.longOption(options, "maxBytesPerTrigger"))
}

final class Offset2ScanBuilder(
    dir: String,
    maxPartitionBytesOpt: Option[String],
    maxEntriesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None
) extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var lower = 0L
  private var upper = Long.MaxValue
  private var accepted: Array[Filter] = Array.empty
  private var pruned: StructType = Offset2Source.schema
  private var topN: Option[(Int, Boolean)] = None // (n, descending)

  /** `seq > Long.MaxValue` / `seq < Long.MinValue` are empty sets —
    * without this guard the +1/−1 folding would overflow to wide-open
    * bounds. Bounds here stay residual (Spark re-filters rows), so the
    * guard is plan hygiene today, but the agg path notes they would
    * become load-bearing if filters ever turn exact — same discipline
    * as GraftLogScanBuilder. */
  private def forceEmpty(): Unit = {
    lower = Long.MaxValue; upper = Long.MinValue
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter {
      case GreaterThan("seq", v: Long) =>
        if (v == Long.MaxValue) forceEmpty()
        else lower = math.max(lower, v + 1)
        true
      case GreaterThanOrEqual("seq", v: Long) => lower = math.max(lower, v); true
      case LessThan("seq", v: Long) =>
        if (v == Long.MinValue) forceEmpty()
        else upper = math.min(upper, v - 1)
        true
      case LessThanOrEqual("seq", v: Long) => upper = math.min(upper, v); true
      case EqualTo("seq", v: Long) =>
        lower = math.max(lower, v); upper = math.min(upper, v); true
      case _ => false
    }
    filters // all residual: pruning only, Spark re-applies row-level
  }

  override def pushedFilters(): Array[Filter] = accepted

  /** PARTIAL top-N/limit pushdown (dense offset2 seqs: top n by seq
    * is the head/tail seq range, resolved against `ofst` at planning)
    * — the scan plans ONLY the covering frame bytes instead of the
    * whole data file, and Spark keeps a residual Sort+Limit over the
    * n surviving rows (`isPartiallyPushed = true`), so no reversed
    * byte-range reader is needed on this compat path. */
  override def pushLimit(n: Int): Boolean = {
    topN = Some((n, false)); true
  }

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int
  ): Boolean = orders match {
    case Array(o) =>
      o.expression match {
        case ref: org.apache.spark.sql.connector.expressions.NamedReference
            if ref.fieldNames.sameElements(Array("seq")) =>
          topN = Some((n,
            o.direction == org.apache.spark.sql.connector.expressions
              .SortDirection.DESCENDING))
          true
        case _ => false
      }
    case _ => false
  }

  override def isPartiallyPushed(): Boolean = true

  /** COMPLETE aggregate pushdown from `ofst` metadata: entries are
    * dense 0-based, so count(*) / count(seq) / min/max(seq) are
    * arithmetic over the entry count — the reference's own O(1)
    * `Seq()` answer, no data-file scan. NOTE: this path only arises
    * for UNBOUNDED scans — offset2 keeps its seq bounds as residual
    * filters (the conservative compat contract), and Spark refuses
    * aggregate pushdown while residual filters exist. The bound
    * clamps in [[build]] are therefore defensive no-ops today; if
    * offset2 filters ever become exact, they make the composition
    * correct instead of silently wrong. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Boolean =
    MetaAgg.translate(agg, "seq", keyUnique = true).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Boolean =
    MetaAgg.translate(agg, "seq", keyUnique = true) match {
      case some @ Some(_) => aggKinds = some; true
      case None => false
    }

  private var aggKinds: Option[Seq[MetaAgg.Kind]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = StructType(Offset2Source.schema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = {
    aggKinds.foreach { kinds =>
      val meta = Offset2.checkReadOnly(dir)
      val effLo = math.max(lower, 0L)
      val effHi =
        if (meta.count == 0) -1L else math.min(upper, meta.lastSeq)
      val n = if (effLo > effHi) 0L else effHi - effLo + 1
      return MetaAgg.scan(s"offset2 $dir", kinds, n, effLo, effHi)
    }
    new Offset2Scan(dir, pruned, lower, upper, maxPartitionBytesOpt,
      maxEntriesPerTrigger, maxBytesPerTrigger, topN)
  }
}

final case class Offset2Partition(
    dir: String,
    startSeq: Long, endSeq: Long, byteStart: Long, byteEnd: Long
) extends InputPartition

final class Offset2Scan(
    dir: String,
    scanSchema: StructType,
    lower: Long,
    upper: Long,
    maxPartitionBytesOpt: Option[String],
    maxEntriesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    topN: Option[(Int, Boolean)] = None
) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = scanSchema
  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String
  ): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new Offset2MicroBatchStream(dir, scanSchema, maxPartitionBytesOpt,
      maxEntriesPerTrigger, maxBytesPerTrigger)

  // read-only: planning must neither "recover" a live writer's jrnl
  // nor refuse its in-flight append (Offset2.checkReadOnly)
  private lazy val meta = Offset2.checkReadOnly(dir)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(meta.dataSize, 1L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(meta.count)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val target = GraftConf.longOption("maxPartitionBytes",
      maxPartitionBytesOpt).getOrElse {
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val cores: Int = conf.filesMinPartitionNum.getOrElse(
        try org.apache.spark.sql.SparkSession.active
          .sparkContext.defaultParallelism
        catch { case _: Exception => 1 })
      math.min(conf.filesMaxPartitionBytes,
        math.max(conf.filesOpenCostInBytes,
          meta.dataSize / math.max(cores, 1)))
    }
    // a pushed (partial) top-N tightens the bounds: dense seqs make
    // top n asc/desc the head/tail seq range — the plan covers only
    // those frame bytes, Spark's residual Sort+Limit does the rest
    var lo = lower
    var up = upper
    topN.foreach { case (n, desc) =>
      if (meta.count > 0) {
        val effLo = math.max(lo, 0L)
        val effHi = math.min(up, meta.lastSeq)
        if (effLo <= effHi) {
          if (desc) lo = math.max(lo, effHi - n + 1)
          else up = math.min(up, effLo + n - 1)
        }
      }
    }
    // bounded scans clip BEFORE ranging: ofst maps seq -> byte
    // directly, so a point lookup plans one tiny partition over just
    // its frame bytes, not a walk of the whole log
    val ranges =
      if (lo == 0L && up == Long.MaxValue)
        Offset2.planRanges(dir, target)
      else if (up < lo || lo >= meta.count) Nil
      else {
        val hi = math.min(up, meta.lastSeq)
        Offset2.planRanges(dir, target)
          .filter(r => r.endSeq > lo && r.startSeq <= hi)
          .map { r =>
            val s = math.max(r.startSeq, lo)
            val e = math.min(r.endSeq, hi + 1)
            Offset2.EntryRange(s, e,
              if (s == r.startSeq) r.byteStart else seqByte(s),
              if (e == r.endSeq) r.byteEnd else seqByte(e))
          }
      }
    ranges
      .map(r => Offset2Partition(dir, r.startSeq, r.endSeq,
        r.byteStart, r.byteEnd))
      .toArray[InputPartition]
  }

  private def seqByte(seq: Long): Long = {
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(dir, "ofst"),
      java.nio.file.StandardOpenOption.READ)
    try {
      val buf = java.nio.ByteBuffer.allocate(8)
      var off = seq * 8
      while (buf.hasRemaining) {
        val n = ch.read(buf, off)
        if (n < 0) throw new java.io.EOFException(s"EOF at ofst[$seq]")
        off += n
      }
      buf.flip(); buf.getLong
    } finally ch.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new Offset2ReaderFactory(scanSchema)
}

/** Streaming tail of a LIVE offset2 log — the dual-run cutover
  * shape: the reference process keeps appending while Spark tails
  * the triple and mirrors it into the new system. Offsets are
  * committed entry high-waters read from the `ofst` file size
  * (`ofst` is written LAST in the reference's append —
  * `offset2/log.go:425-462` — so every ofst-visible entry's frame
  * is fully in `data`, and the committed prefix of both files is
  * immutable: planned ranges can't be disturbed by concurrent
  * appends). Planning is strictly READ-ONLY ([[graft.compat.Offset2
  * .checkReadOnly]]): the journal-ahead instant mid-append is
  * tolerated, never "recovered" under the live writer. Admission
  * control: `maxEntriesPerTrigger` clamps in O(1) (entries are
  * dense), `maxBytesPerTrigger` via one binary search over `ofst`
  * (at least one entry per batch — the stream can't stall); a
  * restarted tail never plans its whole backlog as one batch. */
final class Offset2MicroBatchStream(
    dir: String,
    schema: StructType,
    maxPartitionBytesOpt: Option[String],
    maxEntriesPerTrigger: Option[Long],
    maxBytesPerTrigger: Option[Long]
) extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{
    CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes,
    ReadMaxRows
  }
  import graft.compat.Offset2

  private case class EntryOffset(lastSeq: Long) extends Offset {
    override def json(): String = lastSeq.toString
  }

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(Offset2.checkReadOnly(dir).lastSeq)

  override def initialOffset(): Offset = EntryOffset(Offset2.SeqEmpty)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) should be called instead of this")

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxEntriesPerTrigger.map { n =>
        require(n > 0, s"maxEntriesPerTrigger must be > 0 (got $n)")
        ReadLimit.maxRows(n)
      },
      maxBytesPerTrigger.map { b =>
        require(b > 0, s"maxBytesPerTrigger must be > 0 (got $b)")
        ReadLimit.maxBytes(b)
      }
    ).flatten
    limits match {
      case Nil => ReadLimit.allAvailable()
      case one :: Nil => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[EntryOffset].lastSeq
    val committed = Offset2.checkReadOnly(dir).lastSeq
    val hi = availableNowTarget.map(math.min(_, committed)).getOrElse(committed)
    if (hi <= lo) return EntryOffset(lo)
    def clamp(l: ReadLimit): Long = l match {
      case r: ReadMaxRows =>
        // saturating: Long.MaxValue maxRows must not wrap negative
        if (r.maxRows() >= hi - lo) hi else lo + r.maxRows()
      case b: ReadMaxBytes =>
        math.min(hi, Offset2.clampByBytes(dir, lo, b.maxBytes()))
      case c: CompositeReadLimit => c.getReadLimits.map(clamp).min
      case _: ReadAllAvailable => hi
      case _ => hi
    }
    EntryOffset(math.max(lo, math.min(hi, clamp(limit))))
  }

  /** True high-water for backlog progress while admission paces. */
  override def reportLatestOffset(): Offset =
    EntryOffset(Offset2.checkReadOnly(dir).lastSeq)

  override def deserializeOffset(json: String): Offset =
    EntryOffset(json.trim.toLong)

  override def planInputPartitions(
      start: Offset,
      end: Offset
  ): Array[InputPartition] = {
    val lo = start.asInstanceOf[EntryOffset].lastSeq // exclusive
    val hi = end.asInstanceOf[EntryOffset].lastSeq // inclusive
    if (hi <= lo) return Array.empty
    val target = GraftConf.longOption("maxPartitionBytes",
      maxPartitionBytesOpt).getOrElse(
      org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes)
    Offset2.planRangesBetween(dir, lo + 1, hi + 1, target)
      .map(r => Offset2Partition(dir, r.startSeq, r.endSeq,
        r.byteStart, r.byteEnd))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new Offset2ReaderFactory(schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class Offset2ReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[Offset2Partition]
    // which of (seq, value, nulled) the pruned schema kept, in order
    val cols: Array[Int] = schema.fieldNames.map {
      case "seq" => 0
      case "value" => 1
      case "nulled" => 2
    }
    new PartitionReader[InternalRow] {
      private val it = new Offset2.RangeIterator(part.dir,
        Offset2.EntryRange(part.startSeq, part.endSeq,
          part.byteStart, part.byteEnd))
      private var row: InternalRow = _
      override def next(): Boolean =
        if (!it.hasNext) false
        else {
          val (seq, value, nulled) = it.next()
          val r = new GenericInternalRow(cols.length)
          var i = 0
          while (i < cols.length) {
            cols(i) match {
              case 0 => r.setLong(i, seq)
              case 1 => r.update(i, value)
              case 2 => r.setBoolean(i, nulled)
            }
            i += 1
          }
          row = r
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = it.close()
    }
  }
}
