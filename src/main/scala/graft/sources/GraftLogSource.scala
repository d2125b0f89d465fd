package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, SupportsWrite, Table, TableCapability, TableProvider
}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, Statistics, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportStatistics
}
import org.apache.spark.sql.connector.write.{
  LogicalWriteInfo, V1Write, Write, WriteBuilder
}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{
  DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual,
  InsertableRelation, LessThan, LessThanOrEqual
}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.GraftConf
import graft.storage.{
  FileIO, Manifest, ParquetLog, SegmentBatches, SegmentRecords, SliceRead
}

/** DataSourceV2 connector for engine logs:
  * {{{ spark.read.format("graft-log").load(dir) }}}
  * yields the `(seq, value, nulled)` table of the log at `dir`, with
  * MANIFEST-scoped visibility (only committed segments — a
  * half-written file is invisible, exactly like [[graft.storage
  * .ParquetLog.toDF]]) and seq-range pushdown: `WHERE seq >= a AND
  * seq < b` prunes whole segments at PLANNING time from the
  * manifest's [minSeq, maxSeq] ranges — no file listing, no footer
  * reads for skipped segments. Surviving segments are PACKED into
  * contiguous runs of adjacent files, one run per core's even share of
  * the scan's real file bytes (at least `openCostInBytes`, at most
  * `maxPartitionBytes` — scan option, else
  * `spark.sql.files.maxPartitionBytes`), balanced by byte midpoint: a
  * log of many small per-batch segments doesn't become one task per
  * file, and a mid-size scan fills every core. An OVERSIZED segment is
  * SPLIT into row-group-aligned byte ranges (a multi-GB compacted
  * segment is parallel work, not one straggler task; see
  * [[SegmentPacking.pack]]); each partition reads its immutable
  * files with parquet-mr directly.
  *
  * Pushdown is EXACT: accepted seq bounds prune partitions AND are
  * enforced by the reader (boundary partitions carry `loSeq`/`hiSeq`
  * row cuts — positionally sliced on the vectorized path), so Spark
  * plans no residual re-filter and may prune `seq` from the read
  * schema. Dense seqs additionally admit top-N/limit pushdown: the
  * scan builder folds `orderBy(seq).limit(n)` into seq bounds, so a
  * "latest n" is a planned tail read with Sort and Limit removed. */
class GraftLogSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-log"

  /** Streaming WRITE leg: `df.writeStream.format("graft-log")
    * .option("path", dir)` appends each micro-batch to the log at
    * `dir` (which must already be opened — same contract as the batch
    * write leg). Exactly-once: the micro-batch id commits atomically
    * WITH the batch's segments in the manifest
    * ([[graft.storage.ParquetLog.appendStream]]), so the replayed
    * batch after a restart is recognized and skipped. Input rows need
    * a `value` column; a `seq` column, when present, fixes the
    * within-batch append order (as in the batch leg); `nulled=true`
    * rows are refused. Served by the V1 `Sink` API — the driver gets
    * each micro-batch as a DataFrame and funnels it through the ONE
    * battle-tested append path, mirroring the reference's
    * single-writer discipline (offset2/log.go:425-462). */
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode
  ): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-log sink is append-only (got $outputMode)")
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-log sink requires .option(\"path\", <log dir>) or .start(<dir>)"))
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(
          batchId: Long,
          data: DataFrame
      ): Unit = {
        val spark = data.sparkSession
        val log = ParquetLog.open(spark, dir)
        // the stable query id (persisted in the checkpoint) identifies
        // the batch-id lineage: a NEW query writing to this log is
        // refused loudly by appendStream rather than silently skipped
        // as a "replay" of ids it never committed
        val queryId = Option(
          spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
        (log.streamQuery, queryId) match {
          case (Some(bound), Some(q)) if bound != q =>
            throw new IllegalStateException(
              s"graft-log $dir is bound to streaming query $bound; " +
                s"query $q must not reuse its batch-id replay marks. " +
                "Resume from the original checkpoint, or call " +
                "ParquetLog.releaseStreamBinding() to rebind.")
          case _ => ()
        }
        if (log.streamBatch.exists(_ >= batchId)) return // replay
        // a streaming Sink's DataFrame is an incremental-plan view —
        // `.rdd` on it re-analyzes the plan as streaming and fails.
        // Take this batch's already-planned InternalRows and rebind
        // them as a plain batch DataFrame.
        val schema = data.schema
        val rowRdd = data.queryExecution.toRdd.mapPartitions { it =>
          val deser = ExpressionEncoder(schema).resolveAndBind()
            .createDeserializer()
          it.map(deser(_))
        }
        val batch = spark.createDataFrame(rowRdd, schema)
        require(batch.columns.contains("value"),
          "graft-log sink needs a `value` column")
        // persist the rebound batch: the nulled check, zipWithIndex's
        // partition-count pass and the final write each evaluate the
        // plan — uncached, every evaluation re-runs the upstream
        // micro-batch decode, tripling per-batch work on the hot
        // ingest path
        batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (batch.columns.contains("nulled") &&
              !batch.where(col("nulled")).isEmpty)
            throw new IllegalArgumentException(
              "cannot append nulled=true rows to a graft-log; " +
                "filter to nulled = false first")
          val ordered =
            if (batch.columns.contains("seq")) batch.orderBy(col("seq"))
            else batch
          log.appendStream(batchId, ordered.select(col("value")), queryId)
        } finally batch.unpersist(blocking = false)
        ()
      }
    }
  }

  private def dirOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-log requires .load(<log dir>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLogSource.schemaOf(dirOf(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]
  ): Table =
    new GraftLogTable(properties.get("path"), schema)

  override def supportsExternalMetadata(): Boolean = false
}

object GraftLogSource {
  private[sources] def schemaOf(dir: String): StructType = {
    val m = Manifest
      .load(dir)
      .getOrElse(throw new IllegalArgumentException(s"no log manifest in $dir"))
    StructType(Seq(
      StructField("seq", LongType, nullable = false),
      StructField("value", DataType.fromJson(m.valueSchemaJson), nullable = true),
      StructField("nulled", BooleanType, nullable = false)
    ))
  }

  /** The columns a scan reads: the table's fields that Spark's
    * `requiredSchema` names, in table order, each with the type Spark
    * pruned it to — `select("value.user_id")` reads
    * `value: struct<user_id>` (Spark's nested schema pruning keeps the
    * table's order inside structs, arrays and maps). */
  private[sources] def readColumns(
      table: StructType,
      required: StructType
  ): StructType =
    StructType(table.fields.flatMap(f => required.find(_.name == f.name)))
}

/** Write leg: `df.write.format("graft-log").mode("append").save(dir)`
  * appends to the log at `dir` (which must already be opened — the
  * connector never invents a value schema). The input is resolved
  * against the table's `(seq, value, nulled)` schema; semantics:
  *
  *   - `seq` is an ORDERING key only. A log assigns its own dense
  *     seqs — the input's seq column fixes the append order (a
  *     DataFrame is unordered otherwise), then fresh seqs continue
  *     from the log's tail. Copying a log preserves relative order,
  *     not absolute seq numbers.
  *   - `nulled=true` rows are rejected loudly: null/replace history
  *     is a mutation of THIS log's seq space and cannot be appended
  *     into another log's. Filter to `nulled = false` first.
  *
  * The write delegates to [[graft.storage.ParquetLog.append]] via the
  * V1 write bridge — one battle-tested append path (distributed
  * two-pass dense-seq stamping, atomic manifest commit) instead of a
  * second. Append-only: overwrite modes are refused. */
final class GraftLogTable(dir: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-log `$dir`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      // BATCH_WRITE routes DataFrameWriter to AppendData; V1_BATCH_WRITE
      // tells the planner the Write resolves via the V1 bridge
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(dir, tableSchema,
      Option(options.get("maxPartitionBytes")),
      GraftConf.longOption(options, "maxSeqsPerTrigger"),
      GraftConf.longOption(options, "maxBytesPerTrigger"),
      GraftConf.intOption(options, "maxSegmentsPerTrigger"))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              if (overwrite)
                throw new UnsupportedOperationException(
                  "graft-log is append-only; use mode(\"append\")")
              if (!data.where(col("nulled")).isEmpty)
                throw new IllegalArgumentException(
                  "cannot append nulled=true rows to a graft-log; " +
                    "filter to nulled = false first")
              val log = ParquetLog.open(data.sparkSession, dir)
              log.append(data.orderBy(col("seq")).select(col("value")))
              ()
            }
          }
      }
    }
}

final class GraftLogScanBuilder(
    dir: String,
    schema: StructType,
    maxPartitionBytesOpt: Option[String] = None,
    maxSeqsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxSegmentsPerTrigger: Option[Int] = None
) extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var lower = Long.MinValue
  private var upper = Long.MaxValue
  private var accepted: Array[Filter] = Array.empty
  private var pruned: StructType = schema
  private var topN: Option[(Int, Boolean)] = None // (n, descending)
  private var aggKinds: Option[Seq[MetaAgg.Kind]] = None

  /** Seq bounds are pushed EXACTLY: the reader enforces them
    * row-level (boundary partitions carry `loSeq`/`hiSeq` cuts; the
    * vectorized path cuts POSITIONALLY via the dense-seq row-index
    * mapping), so accepted bounds are not returned as residuals —
    * Spark plans no re-filter and may prune `seq` itself from the
    * read schema. Exactness is what makes limit/top-N pushdown
    * composable with bounds below. */
  /** `seq > Long.MaxValue` / `seq < Long.MinValue` are empty sets —
    * without this guard the +1/−1 folding would OVERFLOW to wide-open
    * bounds, and (bounds being exact, no residual re-filter) return
    * every row where zero are correct. */
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
    filters.filterNot(accepted.contains)
  }

  override def pushedFilters(): Array[Filter] = accepted

  /** Plain limit-n: any n rows satisfy the contract; the dense-seq
    * cut in [[build]] delivers the FIRST n (deterministic bonus) and
    * plans only the covering segments. */
  override def pushLimit(n: Int): Boolean = {
    topN = Some((n, false)); true
  }

  /** Top-N by `seq`: over a DENSE log, the top n ascending are the
    * seq range `[first, first+n)` and the top n descending are
    * `(last-n, last]` — a seq-range query, not a sort. Accepted only
    * for a single seq ordering; descending additionally reverses the
    * planned partition order and each partition's rows, so the scan
    * emits the exact top-N IN ORDER and Spark drops both the Sort and
    * the Limit (`isPartiallyPushed == false`). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int
  ): Boolean = orders match {
    case Array(o) =>
      o.expression match {
        case ref: org.apache.spark.sql.connector.expressions.NamedReference
            if ref.fieldNames.sameElements(Array("seq")) =>
          val desc = o.direction ==
            org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
          topN = Some((n, desc))
          true
        case _ => false
      }
    case _ => false
  }

  override def isPartiallyPushed(): Boolean = false

  /** COMPLETE aggregate pushdown for the aggregates a dense log's
    * manifest answers with arithmetic alone — `count(*)`, `count(seq)`
    * (seqs are unique and non-null, distinct included), `min(seq)`,
    * `max(seq)` — composed with exact seq bounds: the answer over
    * `[lo, hi]` is `hi − lo + 1` and the bounds themselves. A 100 TB
    * `SELECT count(*)` is a manifest read, ZERO file IO. Anything the
    * manifest can't answer exactly (grouping, other columns, value
    * aggregates) is refused and Spark plans the normal scan. */
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

  /** Column pruning reaches the parquet page reads, nested fields
    * included: the pruned schema ([[GraftLogSource.readColumns]])
    * flows through [[GraftLogReaderFactory]] into the readers'
    * requested-schema clip ([[graft.storage.SegmentRecords.clip]]), so
    * `select(seq)` over a log with fat values never fetches the value
    * column chunks and `sum(value.amount)` decodes one leaf of the
    * value struct. With exact bound pushdown, a bounded `select(value)`
    * scan reads ONLY the value chunks — the row reader re-reads `seq`
    * internally for its range check, the vectorized reader cuts
    * positionally and never needs it. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = GraftLogSource.readColumns(schema, requiredSchema)

  override def build(): Scan = {
    // ONE manifest snapshot for the whole scan: the top-N cut below,
    // estimateStatistics and planInputPartitions all read this load —
    // a concurrent append between planner callbacks cannot shift a
    // fully-pushed top-N's row set (Sort+Limit are already gone)
    val snapshot = Manifest.load(dir)
    // fully-pushed aggregates: answered from the snapshot + bounds,
    // no file is ever opened (dense seqs: rows in [lo, hi] = hi-lo+1)
    aggKinds.foreach { kinds =>
      val segs = snapshot.map(_.segments).getOrElse(Nil)
      val effLo =
        if (segs.isEmpty) 0L else math.max(lower, segs.map(_.minSeq).min)
      val effHi =
        if (segs.isEmpty) -1L else math.min(upper, segs.map(_.maxSeq).max)
      val n = if (effLo > effHi) 0L else effHi - effLo + 1
      return MetaAgg.scan(s"graft-log $dir", kinds, n, effLo, effHi)
    }
    // fold a pushed limit/top-N into the seq bounds (dense seqs: the
    // answer is a contiguous seq range)
    var lo = lower
    var up = upper
    var desc = false
    topN.foreach { case (n, d) =>
      desc = d
      snapshot.filter(_.segments.nonEmpty).foreach { m =>
        val effLo = math.max(lo, m.segments.map(_.minSeq).min)
        val effHi = math.min(up, m.segments.map(_.maxSeq).max)
        if (effLo <= effHi) {
          if (d) lo = math.max(lo, effHi - n + 1)
          else up = math.min(up, effLo + n - 1)
        }
      }
    }
    new GraftLogScan(dir, pruned, lo, up, maxPartitionBytesOpt,
      maxSeqsPerTrigger, maxBytesPerTrigger, maxSegmentsPerTrigger,
      descending = desc, manifestSnapshot = Some(snapshot))
  }
}

/** The scan a fully-pushed aggregation plans to: ONE partition whose
  * reader emits the single pre-computed result row. The values were
  * derived on the driver from the manifest snapshot + exact seq
  * bounds — `count(*)` on a 100 TB log opens zero files. */
final class GraftLogAggScan(
    dir: String,
    aggSchema: StructType,
    row: Seq[Any]
) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(AggRowPartition(row))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          private val r = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(
              p.asInstanceOf[AggRowPartition].values.toArray[Any])
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = r
          override def close(): Unit = ()
        }
    }
  override def description(): String =
    s"$dir AGGREGATE(${aggSchema.fieldNames.mkString(", ")}) from metadata"
}

final case class AggRowPartition(values: Seq[Any]) extends InputPartition

/** One input partition = a PACKED run of adjacent segments (their
  * dense seq ranges are contiguous) of about one core's share of the
  * scan's bytes, never over `maxPartitionBytes`
  * ([[SegmentPacking.pack]]), so a streaming-ingested log with
  * thousands of tiny per-batch segments doesn't explode into
  * thousands of tasks.
  * `loSeq`/`hiSeq` bound the rows the READER emits (inclusive) and
  * are the ONLY enforcement of pushed seq bounds (no residual filter
  * is planned): the batch path cuts boundary partitions to the exact
  * pushed range (interior partitions stay wide open), the streaming
  * path cuts each micro-batch to its offset range. `dir` lets the
  * reader re-resolve this
  * partition's seq range from the CURRENT manifest if a concurrent
  * rewrite replaced any of `paths` between planning and execution. */
final case class LogSegmentPartition(
    dir: String,
    paths: Seq[String],
    minSeq: Long,
    maxSeq: Long,
    loSeq: Long = Long.MinValue,
    hiSeq: Long = Long.MaxValue,
    // byte subrange of a SINGLE oversized file (row-group-aligned
    // split, see SegmentPacking.splitSegment); (0, MaxValue) = whole
    splitStart: Long = 0L,
    splitEnd: Long = Long.MaxValue,
    // emit rows seq-DESCENDING (pushed top-N by seq desc): the reader
    // buffers this partition's qualifying rows (bounded by the top-N
    // cut) and reverses
    reversed: Boolean = false,
    // the loSeq/hiSeq cut is IMPLIED by the planner's file selection
    // (graft-table streams: every planned segment's single `_ver` is
    // inside the batch range) — present planned files need no
    // row-level filtering, so the vectorized path may serve them; the
    // cut still governs the vanished-file re-resolution fallback
    cutImplied: Boolean = false
) extends InputPartition {
  def isSplit: Boolean = splitStart != 0L || splitEnd != Long.MaxValue
  def byteRange: Option[(Long, Long)] =
    if (isSplit) Some((splitStart, splitEnd)) else None
}

/** Session toggle for the vectorized connector read path, read on the
  * driver at planning time (where `createReaderFactory` runs):
  * `spark.conf.set("spark.graft.columnar.enabled", "false")` forces
  * the row reader — the A/B lever for benches and a safety valve. */
private[sources] object ColumnarOpt {
  def enabled: Boolean =
    GraftConf.boolean("spark.graft.columnar.enabled", true)
}

private[sources] object SegmentPacking {
  /** The byte budget of one scan's partitions, `(cap, target)`, from
    * the REAL file bytes of the segments it plans (`totalBytes`):
    *   - `cap` is a hard ceiling per partition: the `maxPartitionBytes`
    *     scan option when given (the test and off-switch lever), else
    *     `spark.sql.files.maxPartitionBytes`;
    *   - `target` is one core's even share,
    *     `min(cap, max(openCostInBytes, ⌈totalBytes / cores⌉))`, with
    *     cores = `spark.sql.files.minPartitionNum`, else the session's
    *     default parallelism.
    * [[pack]] plans `⌈totalBytes / target⌉` partitions: a mid-size scan
    * fills every core once, a scan under the open cost stays one
    * partition, and at 100 TB the cap sets the partition size. Spark's
    * file source pads every file with the open cost when it sizes its
    * packs; this rule does not, so adjacent tiny segments still pack
    * into one partition (spec-pinned). */
  private def budget(option: Option[String], totalBytes: Long): (Long, Long) = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val cap = GraftConf.longOption("maxPartitionBytes", option)
      .getOrElse(conf.filesMaxPartitionBytes)
    val cores: Int = conf.filesMinPartitionNum.getOrElse(
      try org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism
      catch { case _: Exception => 1 })
    val share = ceilDiv(totalBytes, math.max(cores, 1).toLong)
    (cap, math.max(1L, math.min(cap, math.max(conf.filesOpenCostInBytes, share))))
  }

  private def ceilDiv(a: Long, b: Long): Long = if (a <= 0) 0L else (a - 1) / b + 1

  /** Assumed bytes/row when a segment file can't be stat'd (vanished
    * under a concurrent rewrite): sizing falls back to the manifest's
    * exact row count × this, so packing never treats a real segment
    * as free and statistics never understate a log into a wrong
    * auto-broadcast. */
  val FallbackBytesPerRow: Long = 128L

  /** File size of a committed segment: the manifest's commit-time
    * record when present (zero stat calls at plan time — the 100 TB
    * path), a one-off stat for pre-field manifests, manifest-rows
    * estimate (never 0) when the file is momentarily unreadable
    * mid-rewrite. */
  def segmentSize(dir: String, s: graft.storage.Segment): Long =
    s.bytes.getOrElse {
      try graft.storage.FileIO.forPath(dir)
        .size(graft.storage.FileIO.join(dir, s.path))
      catch {
        case _: Exception => math.max(s.rows, 1L) * FallbackBytesPerRow
      }
    }

  /** One planned partition's worth of segment bytes: whole files
    * (the common case, `splitStart/splitEnd` wide open) or ONE
    * oversized file's byte subrange covering a run of row groups
    * (standard parquet split semantics: a row group belongs to the
    * range containing its MIDPOINT, and split boundaries sit at
    * row-group start offsets — under the midpoint rule that assigns
    * each group to exactly one sibling; siblings tile `[0, ∞)`, so
    * any layout is read exactly once). `minSeq`/`maxSeq`
    * are the filter-column bounds this partition is responsible
    * for — for log splits they are EXACT per-row-group footer stats,
    * which is what keeps the concurrent-rewrite fallback
    * duplicate-and-gap-free across sibling splits. `bytes` is the
    * file bytes (a split: its row groups' compressed bytes) the
    * partition reads. */
  final case class PackedGroup(
      paths: Seq[String],
      minSeq: Long,
      maxSeq: Long,
      bytes: Long,
      splitStart: Long = 0L,
      splitEnd: Long = Long.MaxValue
  )

  /** Plan the partitions of a scan over `segments` under [[budget]]:
    * the seq-ordered segments are cut into contiguous groups of about
    * `target` bytes each, balanced by byte midpoint (see [[balanced]]),
    * so n equal segments on c cores become min(n, c) partitions whose
    * segment counts differ by at most one. A segment over `target` (a
    * compacted multi-GB file — at 100 TB the norm, and otherwise one
    * straggler task) is SPLIT into row-group-aligned byte ranges
    * balanced the same way, the parallelism the parquet file source
    * gets from blind byte splits, but with exact per-split seq bounds
    * so the rewrite fallback stays exact. No group of several files
    * passes `cap`.
    *
    * Split preconditions, checked from the segment's own footer
    * (driver-side, read only for oversized files): every row group
    * carries `filterCol` min/max stats AND consecutive row groups are
    * disjoint-ordered (guaranteed for logs — segments are written
    * `sortWithinPartitions(seq)`). When stats exist but interleave
    * (a table segment: every row shares one `_ver`), splitting is
    * sound only if a vanished file can never be partially re-resolved
    * — true for graft-table, whose only rewrite folds history and
    * trips the reader's loud `_ver` refusal — so those callers opt in
    * via `sharedRangeSplits` and each split carries the whole
    * segment's bounds. Anything else stays one whole-file group. */
  def pack(
      option: Option[String],
      dir: String,
      segments: Seq[graft.storage.Segment],
      filterCol: String = "seq",
      sharedRangeSplits: Boolean = false
  ): Seq[PackedGroup] = {
    val sized = segments.sortBy(_.minSeq).map(s => s -> segmentSize(dir, s))
    val (cap, target) = budget(option, sized.map(_._2).sum)
    val groups = scala.collection.mutable.ListBuffer.empty[PackedGroup]
    val run = scala.collection.mutable.ListBuffer.empty[(graft.storage.Segment, Long)]
    // a run of adjacent segments under the target, cut into groups
    def flush(): Unit = if (run.nonEmpty) {
      groups ++= balanced(run.toList, (s: (graft.storage.Segment, Long)) => s._2,
        target, cap).map { g =>
        PackedGroup(g.map(s => graft.storage.FileIO.join(dir, s._1.path)),
          g.head._1.minSeq, g.last._1.maxSeq, g.map(_._2).sum)
      }
      run.clear()
    }
    sized.foreach { case (s, b) =>
      if (b > target) {
        flush()
        groups ++= splitSegment(dir, s, b, target, cap, filterCol,
          sharedRangeSplits)
      } else run += (s -> b)
    }
    flush()
    groups.toSeq
  }

  /** Cut `items` (in order) into ⌈total / target⌉ contiguous groups
    * balanced by byte midpoint — the rule parquet splits use for row
    * groups: an item of `size` b starting at byte offset o belongs to
    * group ⌊(o + b/2) · k / total⌋. Equal items therefore spread over
    * the k groups with counts that differ by at most one. A group that
    * would pass `cap` is closed early. */
  private def balanced[A](
      items: List[A],
      size: A => Long,
      target: Long,
      cap: Long
  ): List[List[A]] = {
    val total = items.map(size).sum
    val k = BigInt(math.max(1L, ceilDiv(total, target)))
    val twiceTotal = BigInt(math.max(total, 1L)) * 2
    val groups = scala.collection.mutable.ListBuffer.empty[List[A]]
    val cur = scala.collection.mutable.ListBuffer.empty[A]
    var curIdx = BigInt(0)
    var curBytes = 0L
    var offset = 0L
    items.foreach { a =>
      val b = size(a)
      val idx = (BigInt(offset) * 2 + b) * k / twiceTotal
      if (cur.nonEmpty && (idx != curIdx || curBytes + b > cap)) {
        groups += cur.toList; cur.clear(); curBytes = 0L
      }
      cur += a; curBytes += b; curIdx = idx; offset += b
    }
    if (cur.nonEmpty) groups += cur.toList
    groups.toList
  }

  /** Row-group stats of one segment file, footer order:
    * (startingPos, compressedSize, filterCol min, filterCol max).
    * None when the file can't be read (racing rewrite) or any row
    * group lacks stats — callers fall back to a whole-file group. */
  private def blockStats(
      file: String,
      filterCol: String
  ): Option[List[(Long, Long, Long, Long)]] =
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        graft.storage.FileIO.forPath(file).inputFile(file),
        org.apache.parquet.ParquetReadOptions.builder().build())
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toList
        val stats = blocks.map { b =>
          val col = b.getColumns.asScala
            .find(_.getPath.toDotString == filterCol)
            .getOrElse(return None)
          val st = col.getStatistics
          if (st == null || !st.hasNonNullValue) return None
          (b.getStartingPos, b.getCompressedSize,
            st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        }
        Some(stats)
      } finally reader.close()
    } catch { case _: Exception => None }

  private def splitSegment(
      dir: String,
      s: graft.storage.Segment,
      bytes: Long,
      target: Long,
      cap: Long,
      filterCol: String,
      sharedRangeSplits: Boolean
  ): Seq[PackedGroup] = {
    val path = graft.storage.FileIO.join(dir, s.path)
    val whole = Seq(PackedGroup(Seq(path), s.minSeq, s.maxSeq, bytes))
    blockStats(path, filterCol) match {
      case Some(blocks) if blocks.length > 1 =>
        val ordered = blocks.lazyZip(blocks.tail).forall(_._4 < _._3)
        if (!ordered && !sharedRangeSplits) whole
        else {
          val runs = balanced(blocks, (b: (Long, Long, Long, Long)) => b._2,
            target, cap).toVector
          if (runs.length <= 1) whole
          else runs.zipWithIndex.map { case (r, i) =>
            // ranges tile [0, ∞): boundaries at each later run's first
            // row-group offset, so every row group of ANY layout lands
            // in exactly one sibling
            val start = if (i == 0) 0L else r.head._1
            val end =
              if (i == runs.length - 1) Long.MaxValue
              else runs(i + 1).head._1
            val (lo, hi) =
              if (ordered) (r.head._3, r.last._4)
              else (s.minSeq, s.maxSeq)
            PackedGroup(Seq(path), lo, hi, r.map(_._2).sum, start, end)
          }
        }
      case _ => whole
    }
  }

  /** `explain` text of a packed scan: its partition count and the
    * largest partition's bytes. */
  def describe(groups: Seq[PackedGroup]): String =
    s" partitions=${groups.size} largest=${groups.map(_.bytes).maxOption.getOrElse(0L)}B"
}

final class GraftLogScan(
    dir: String,
    scanSchema: StructType,
    lower: Long,
    upper: Long,
    maxPartitionBytesOpt: Option[String] = None,
    maxSeqsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxSegmentsPerTrigger: Option[Int] = None,
    descending: Boolean = false,
    manifestSnapshot: Option[Option[Manifest]] = None
) extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** True when a pushed top-N-by-seq-desc turned this into a reversed
    * tail read (see [[GraftLogScanBuilder.pushTopN]]). */
  def isDescending: Boolean = descending

  /** Per-partition ordering, reported to Spark: rows within every
    * partition are seq-sorted (segments are written
    * `sortWithinPartitions(seq)`; a reversed top-N emits descending),
    * so EnsureRequirements drops redundant local sorts (merge joins,
    * `sortWithinPartitions(seq)`) without the [[graft.plans
    * .OrderedLogScan]] strategy even firing. Reported only when `seq`
    * survives column pruning — Spark resolves the reference against
    * the scan output. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{
      Expressions, SortDirection
    }
    if (!scanSchema.fieldNames.contains("seq")) Array.empty
    else
      Array(Expressions.sort(
        Expressions.column("seq"),
        if (descending) SortDirection.DESCENDING
        else SortDirection.ASCENDING))
  }

  override def readSchema(): StructType = scanSchema
  override def toBatch: Batch = this

  // ONE planning-time snapshot per scan: the builder's manifest load
  // (which also resolved any top-N cut) serves statistics and
  // partitions, so all planner callbacks agree on one row set — a
  // concurrent append can't widen a fully-pushed top-N (a Dataset's
  // physical plan already freezes partitions at first action; this
  // aligns the metadata with the pushed bounds)
  private lazy val surviving: List[graft.storage.Segment] =
    manifestSnapshot
      .getOrElse(Manifest.load(dir))
      .map(_.segments.filter(s => s.maxSeq >= lower && s.minSeq <= upper))
      .getOrElse(Nil)

  /** Planning-time stats straight from the manifest (exact row counts
    * per committed segment) + file sizes of the surviving segments —
    * lets Catalyst auto-broadcast a small log in a join without a
    * hint, the decision that matters most at cluster scale. Seq-range
    * pruning is applied first, so `WHERE seq < k` shrinks the
    * estimate too. */
  override def estimateStatistics(): Statistics = {
    val segs = surviving
    val rows = segs.map(_.rows).sum
    val bytes = segs.map(SegmentPacking.segmentSize(dir, _)).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** The surviving segments packed into partitions, once per scan:
    * [[planInputPartitions]] and [[description]] share it. */
  private lazy val packed: Seq[SegmentPacking.PackedGroup] =
    SegmentPacking.pack(maxPartitionBytesOpt, dir, surviving)
      // splits carry exact per-run seq bounds, so pushed seq bounds
      // prune them the same way they pruned whole segments above
      .filter(g => g.maxSeq >= lower && g.minSeq <= upper)

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = packed
      .map { g =>
        // exact pushdown: only BOUNDARY partitions carry a row cut;
        // interior ones stay wide open (and columnar-eligible without
        // slicing)
        LogSegmentPartition(dir, g.paths, g.minSeq, g.maxSeq,
          loSeq = if (g.minSeq < lower) lower else Long.MinValue,
          hiSeq = if (g.maxSeq > upper) upper else Long.MaxValue,
          splitStart = g.splitStart, splitEnd = g.splitEnd,
          reversed = descending)
      }
    // descending: highest seqs first, so downstream partition-index
    // order (collect, take) sees the global descending order
    (if (descending) parts.reverse else parts).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(scanSchema, columnar = ColumnarOpt.enabled)

  /** The surviving segments that hold rows of `[lower, upper]`, in
    * seq order, with the seq range `[lo, hi]` of each that this scan
    * emits. */
  private lazy val cuts: List[(graft.storage.Segment, Long, Long)] =
    surviving.sortBy(_.minSeq)
      .map(s => (s, math.max(lower, s.minSeq), math.min(upper, s.maxSeq)))
      .filter { case (_, lo, hi) => lo <= hi }

  /** Rows this scan emits, exactly: dense seqs make each segment's
    * share its cut's width. From the planning snapshot, no IO. */
  def exactRows: Long = cuts.map { case (_, lo, hi) => hi - lo + 1 }.sum

  /** Segment files a [[driverRows]] read opens. */
  def segmentFiles: Int = cuts.size

  /** This scan's rows read ON THE DRIVER, in ascending seq order,
    * laid out as [[readSchema]]: the planning snapshot's files through
    * [[graft.storage.SliceRead]], with a `seq >= lo AND seq <= hi`
    * predicate so footer statistics and column indexes prune row
    * groups and pages. For a scan whose [[exactRows]] is at most
    * `maxRows`: the pages kept may hold more rows than the cut (the
    * partial pages at its ends; whole row groups of a file without
    * page indexes), so up to twice `maxRows` are decoded. None when
    * `SliceRead` refuses: more pages than that, a type it does not
    * convert, too many files, a planned file gone under a concurrent
    * rewrite, a read error. The caller then runs the scan as a job. */
  def driverRows(maxRows: Long): Option[Vector[InternalRow]] = {
    if (cuts.isEmpty) return Some(Vector.empty)
    val seq = FilterApi.longColumn("seq")
    SliceRead.rows(cuts.map(c => FileIO.join(dir, c._1.path)), scanSchema,
      FilterApi.and(
        FilterApi.gtEq(seq, java.lang.Long.valueOf(cuts.head._2)),
        FilterApi.ltEq(seq, java.lang.Long.valueOf(cuts.last._3))),
      2 * maxRows)
  }

  override def description(): String =
    s"graft-log $dir seq∈[${if (lower == Long.MinValue) "-∞" else lower}, " +
      s"${if (upper == Long.MaxValue) "∞" else upper}]" +
      (if (descending) " order=seq DESC" else "") +
      (if (streaming) "" else SegmentPacking.describe(packed))

  // a stream packs each micro-batch itself, so the explain text of a
  // streaming scan shows no batch packing (and never computes one)
  @volatile private var streaming = false

  override def toMicroBatchStream(
      checkpointLocation: String
  ): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    streaming = true
    new GraftLogMicroBatchStream(dir, scanSchema, maxPartitionBytesOpt,
      maxSeqsPerTrigger, maxBytesPerTrigger, maxSegmentsPerTrigger)
  }
}

/** Streaming leg: offsets are manifest seq high-water marks, NOT file
  * sets — each micro-batch delivers exactly the rows with
  * `seq ∈ (start, end]`, planned fresh from the manifest. That makes
  * the stream structurally immune to the rewrite re-delivery problem
  * of file-discovery streaming (null/replace/compact emit new FILES
  * covering old seqs; seq offsets don't move, so nothing re-delivers).
  * In-place updates are intentionally NOT forwarded — live = appends,
  * matching the reference's live-query contract. A concurrent rewrite
  * that replaces a planned file mid-batch is tolerated at the READER:
  * it re-resolves its seq range against the current manifest (see
  * [[GraftLogReaderFactory]]) — seq bounds don't move, so the batch
  * still delivers exactly its offset range, no duplicates or gaps.
  */
final class GraftLogMicroBatchStream(
    dir: String,
    schema: StructType,
    maxPartitionBytesOpt: Option[String] = None,
    maxSeqsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxSegmentsPerTrigger: Option[Int] = None
) extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{
    CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes,
    ReadMaxFiles, ReadMaxRows
  }

  private case class SeqOffset(maxSeq: Long) extends Offset {
    override def json(): String = maxSeq.toString
  }

  // Trigger.AvailableNow: the drain target is FIXED at query start
  // (appends racing the drain wait for the next run), and admission
  // control still paces the batches below it — without this a paced
  // source would be wrapped and served its whole backlog at once.
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(
      Manifest.load(dir).map(_.maxSeq).getOrElse(graft.core.Seqs.SeqEmpty))

  override def initialOffset(): Offset = SeqOffset(graft.core.Seqs.SeqEmpty)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) should be called instead of this")

  /** ADMISSION CONTROL — the catch-up path that matters at scale: a
    * restarted or lagging stream must NOT plan its whole backlog (on
    * a 100 TB log, potentially the whole log) as one micro-batch.
    * `.option("maxSeqsPerTrigger", n)` / `.option("maxBytesPerTrigger",
    * b)` bound each batch; catch-up then proceeds incrementally,
    * mirroring the reference's per-`Next` incremental catch-up
    * (offset2/qry.go:214-276). Because seqs are DENSE, a row bound
    * clamps in O(1) (`start + n`); a byte bound walks the manifest's
    * segment sizes (driver-side metadata, no file listing) and always
    * admits at least one segment so the stream can't stall. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxSeqsPerTrigger.map { n =>
        require(n > 0, s"maxSeqsPerTrigger must be > 0 (got $n)")
        ReadLimit.maxRows(n)
      },
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
    val lo = start.asInstanceOf[SeqOffset].maxSeq
    val m = Manifest.load(dir).getOrElse(return SeqOffset(lo))
    val hi = availableNowTarget
      .map(math.min(_, m.maxSeq)).getOrElse(m.maxSeq)
    if (hi <= lo) return SeqOffset(lo)
    def clamp(l: ReadLimit): Long = l match {
      case r: ReadMaxRows =>
        // dense seqs: rows in (lo, end] == end - lo exactly.
        // SATURATING add: maxRows = Long.MaxValue ("unlimited") would
        // wrap lo + maxRows negative and freeze the offset forever
        if (r.maxRows() >= hi - lo) hi else lo + r.maxRows()
      case b: ReadMaxBytes =>
        // admit whole segments until the byte budget is spent; the
        // first pending segment always passes (progress guarantee)
        val pending = m.segments.filter(_.maxSeq > lo).sortBy(_.minSeq)
        var budget = b.maxBytes()
        var end = lo
        var first = true
        var stopped = false
        pending.foreach { s =>
          if (!stopped) {
            val sz = SegmentPacking.segmentSize(dir, s)
            if (first || sz <= budget) { end = s.maxSeq; budget -= sz }
            else stopped = true // contiguous prefix only — no gaps
            first = false
          }
        }
        end
      case f: ReadMaxFiles =>
        val pending = m.segments.filter(_.maxSeq > lo).sortBy(_.minSeq)
        pending.take(math.max(f.maxFiles(), 1)).lastOption
          .map(_.maxSeq).getOrElse(lo)
      case c: CompositeReadLimit => c.getReadLimits.map(clamp).min
      case _: ReadAllAvailable => hi
      case _ => hi // ReadMinRows etc.: deliver what's available
    }
    SeqOffset(math.max(lo, math.min(hi, clamp(limit))))
  }

  /** True high-water for progress reporting — lets the UI show the
    * backlog even while admission control paces the batches. */
  override def reportLatestOffset(): Offset =
    SeqOffset(Manifest.load(dir).map(_.maxSeq).getOrElse(graft.core.Seqs.SeqEmpty))

  override def deserializeOffset(json: String): Offset =
    SeqOffset(json.trim.toLong)

  override def planInputPartitions(
      start: Offset,
      end: Offset
  ): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].maxSeq // exclusive
    val hi = end.asInstanceOf[SeqOffset].maxSeq // inclusive
    if (hi <= lo) return Array.empty
    val m = Manifest.load(dir).getOrElse(return Array.empty)
    val segs = m.segments.filter(s => s.maxSeq > lo && s.minSeq <= hi)
    SegmentPacking
      .pack(maxPartitionBytesOpt, dir, segs)
      .filter(g => g.maxSeq > lo && g.minSeq <= hi) // prune out-of-batch splits
      .map { g =>
        LogSegmentPartition(dir, g.paths, g.minSeq, g.maxSeq,
          loSeq = lo + 1, hiSeq = hi,
          splitStart = g.splitStart, splitEnd = g.splitEnd)
      }
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(schema, columnar = ColumnarOpt.enabled)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Opens the planned segment file; if a concurrent rewrite replaced
  * it between planning and execution, falls back to the CURRENT
  * manifest and reads whichever segments now cover this partition's
  * seq range, filtering rows to exactly `[minSeq, maxSeq] ∩
  * [loSeq, hiSeq]` — the range the vanished file was responsible for.
  * Since rewrites preserve the seq space (compaction merges files;
  * null/replace rewrite values in place), the partition still emits
  * exactly its planned seqs: no duplicates against sibling
  * partitions, no gaps. The one observable effect is value
  * freshness — a row nulled/replaced mid-batch is read post-rewrite,
  * the same non-snapshot caveat as any re-read. For `_ver` reads
  * (graft-table) a racing TableStore rewrite does NOT preserve the
  * key space — the fallback detects the fold and fails loudly
  * instead of emitting an empty partition. */
final class GraftLogReaderFactory(
    schema: StructType,
    filterCol: String = "seq",
    columnar: Boolean = true
) extends PartitionReaderFactory {

  /** Columnar (vectorized, [[org.apache.spark.sql.vectorized
    * .ColumnarBatch]]) reads whenever every requested column is an
    * atomic type the vectorized decoder handles. For `seq` logs a
    * partition's `loSeq`/`hiSeq` cut (bounded batch scans, streaming
    * micro-batches) stays vectorized: dense seqs map the cut to an
    * exact ROW-INDEX range, applied positionally by
    * [[SegmentBatches.VectorizedSegmentsReader]] without decoding
    * `seq`. Reversed (pushed top-N desc) partitions and `_ver` cuts
    * (versions aren't dense per row) use the row reader — both
    * conditions are uniform across one scan's partitions, which Spark
    * requires (all-or-nothing). `spark.graft.columnar.enabled=false`
    * (session conf, read at planning) forces the row path for A/B. */
  override def supportColumnarReads(p: InputPartition): Boolean = {
    val seg = p.asInstanceOf[LogSegmentPartition]
    columnar && !seg.reversed && SegmentBatches.supported(schema) &&
    (filterCol == "seq" || seg.cutImplied ||
      (seg.loSeq == Long.MinValue && seg.hiSeq == Long.MaxValue))
  }

  override def createColumnarReader(
      p: InputPartition
  ): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val seg = p.asInstanceOf[LogSegmentPartition]
    val planned = seg.paths
    if (planned.forall(f => graft.storage.FileIO.forPath(f).exists(f))) {
      // fast path: committed segment contents are within the
      // partition's seq range by the dense-seq invariant (for a
      // byte-range split, the range itself bounds the rows); a
      // loSeq/hiSeq cut becomes a positional row-index range — for
      // `seq` only (versions aren't row-dense; a `_ver` partition is
      // only columnar when its cut is implied by file selection,
      // which needs no row filtering at all)
      val lo = math.max(seg.loSeq, seg.minSeq)
      val hi = math.min(seg.hiSeq, seg.maxSeq)
      val rowRange =
        if (filterCol == "seq" && (lo > seg.minSeq || hi < seg.maxSeq))
          Some((lo - seg.minSeq, hi - seg.minSeq + 1))
        else None
      new SegmentBatches.VectorizedSegmentsReader(planned, schema,
        seg.byteRange, rowRange)
    } else
      // a concurrent rewrite replaced a planned file: the ROW reader
      // owns re-resolution + range filtering + the _ver fold refusal
      // (spec-pinned); repack its rows so the committed-columnar plan
      // is still served
      new SegmentBatches.RowRepackReader(createReader(p), schema)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val seg = p.asInstanceOf[LogSegmentPartition]
    // The effective seq range this partition must emit. In the normal
    // (file present) path the [minSeq, maxSeq] half is implicit in the
    // file contents; in the fallback path it is what prevents a merged
    // replacement segment from re-emitting rows owned by siblings.
    val lo = math.max(seg.loSeq, seg.minSeq)
    val hi = math.min(seg.hiSeq, seg.maxSeq)
    // the filter column drives the range check even when column
    // pruning dropped it from the output (e.g. `select(value)`): read
    // it alongside the requested columns, strip it before emitting.
    val hasCol = schema.fieldNames.contains(filterCol)
    val readSchema =
      if (hasCol) schema
      else StructType(
        StructField(filterCol, LongType, nullable = false) +: schema.fields)
    val planned = seg.paths
    val plannedPresent =
      planned.forall(f => graft.storage.FileIO.forPath(f).exists(f))
    // byte-range splits read their row-group run only while the
    // planned file is the one being read — a replacement file has a
    // different layout, so the fallback drops the range and cuts by
    // the split's EXACT seq bounds instead (table `_ver` splits can't
    // be cut that way, but their only rewrite folds history and trips
    // the refusal below before any row is emitted)
    val range: Option[(Long, Long)] =
      if (plannedPresent) seg.byteRange else None
    // if ANY planned file vanished under a concurrent rewrite, fall
    // back to the current manifest for the whole (contiguous) group
    // range — per-file mixing would double-read rows a merged
    // replacement segment now covers
    val files: Seq[String] =
      if (plannedPresent) planned
      else {
        val m = Manifest
          .load(seg.dir)
          .getOrElse(throw new java.io.FileNotFoundException(
            s"${seg.paths.mkString(",")} vanished and no manifest remains in ${seg.dir}"))
        // The fallback re-resolve is only sound when the rewrite
        // preserved the filter-key space AND this partition uniquely
        // owns its [lo, hi] key range — true for log seqs (dense seqs
        // give segments disjoint ranges; splits carry exact per-row-
        // group bounds; compaction merges files, null/replace rewrites
        // in place). NEITHER holds for `_ver`: a full TableStore
        // rewrite destroys versions outright (folds all history into
        // one NEW version), and even the version-PRESERVING minor fold
        // (compactSmall) merges files whose version ranges span
        // several planned partitions — shared-bounds splits and
        // multi-file commits give sibling partitions overlapping
        // [lo, hi], so each sibling re-resolving the merged
        // replacement would re-emit rows the others also emit: silent
        // row duplication multiplied by the sibling count (or, for the
        // full fold, silently missing rows). No partial re-resolution
        // of a `_ver` plan is sound — fail loudly; the caller re-runs
        // against the current table.
        if (filterCol == "_ver")
          throw new IllegalStateException(
            s"segments for _ver in [$lo, $hi] were folded by a concurrent " +
              "rewrite (compact/delete); this planned read cannot be " +
              "served exactly-once — re-run against the current table")
        m.segments
          .filter(s => s.maxSeq >= lo && s.minSeq <= hi)
          .map(s => graft.storage.FileIO.join(seg.dir, s.path))
      }
    val forward = new PartitionReader[InternalRow] {
      private val remaining = files.iterator
      private var it: SegmentRecords.ClosingInternalRowIterator = null
      private val colIdx = readSchema.fieldIndex(filterCol)
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (it != null || remaining.hasNext) {
          if (it == null)
            it = SegmentRecords.internalIterator(remaining.next(), readSchema,
              range)
          while (it.hasNext) {
            val row = it.next()
            val s = row.getLong(colIdx)
            if (s >= lo && s <= hi) {
              // rows are freshly-allocated GenericInternalRows: emit
              // directly (no encoder, no copy); strip the filter
              // column when pruning dropped it from the output
              current =
                if (hasCol) row
                else new org.apache.spark.sql.catalyst.expressions
                  .GenericInternalRow(
                    row.asInstanceOf[org.apache.spark.sql.catalyst
                      .expressions.GenericInternalRow].values.drop(1))
              return true
            }
          }
          it.close()
          it = null
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = if (it != null) it.close()
    }
    if (!seg.reversed) forward
    else
      // pushed top-N desc: emit this partition's qualifying rows in
      // reverse seq order. Rows are buffered once (they are
      // freshly-allocated GenericInternalRows — no copy needed);
      // memory is bounded by the top-N cut (the bounds above admit at
      // most the n hottest seqs across ALL partitions), and in the
      // worst case by one partition's decoded rows — the same order
      // as a local sort's in-memory page, without the sort.
      new PartitionReader[InternalRow] {
        private var buffered: Iterator[InternalRow] = null
        private var current: InternalRow = _
        override def next(): Boolean = {
          if (buffered == null) {
            val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            while (forward.next()) buf += forward.get()
            buffered = buf.reverseIterator
          }
          if (buffered.hasNext) { current = buffered.next(); true }
          else false
        }
        override def get(): InternalRow = current
        override def close(): Unit = forward.close()
      }
  }
}
