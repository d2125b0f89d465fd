package graft.storage

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.internal.column.columnindex.OffsetIndex
import org.apache.parquet.internal.filter2.columnindex.{ColumnIndexStore, RowRanges}
import org.apache.parquet.io.{ColumnIOFactory, MessageColumnIO}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Driver-side point read of one `(seq, value, nulled)` row from a
  * single parquet segment — the analogue of the reference's 2-seek
  * `Get` (offset2/offset.go:20-32): no Spark job, no scheduler, no
  * executor round-trip.
  *
  * Segments are immutable, so the expensive per-file state (open
  * reader + parsed footer, ~7 ms) is cached in a small LRU; a point
  * read then costs: locate the row group from the footer (dense seqs →
  * row index arithmetic), locate the page from the OFFSET INDEX, read
  * and decode that ONE page (log segments are written with ≤1024-row
  * pages). Sub-millisecond after first touch of a segment, ~8 ms cold.
  *
  * Supports the value types a log can hold (primitives, strings,
  * binary, dates, timestamps, decimals, structs, arrays, maps).
  * Returns None for
  * anything it can't convert — the caller falls back to the Spark
  * read path, so this is a pure fast path, never a semantics change.
  */
private[graft] object DirectRead {

  /** One open segment: reader, parsed footer and its lazily read page
    * indexes. Not thread-safe — every use holds its monitor. */
  private[storage] final class SegReader(val file: String) {
    val reader: ParquetFileReader = ParquetFileReader.open(
      FileIO.forPath(file).inputFile(file),
      ParquetReadOptions.builder().build()
    )
    val schema: MessageType = reader.getFooter.getFileMetaData.getSchema
    val columnIO: MessageColumnIO = new ColumnIOFactory().getColumnIO(schema)
    /** file-resolved INT96 decode mode (see [[DirectRead.int96RebaseMode]]) */
    val int96Mode: String = int96RebaseMode(
      reader.getFooter.getFileMetaData.getKeyValueMetaData)
    val blocks: Seq[BlockMetaData] = reader.getRowGroups.asScala.toSeq
    /** first row index (within the file) of each row group */
    val firstRows: Array[Long] =
      blocks.scanLeft(0L)(_ + _.getRowCount).toArray
    private val offsetIndexes = new Array[OffsetIndex](blocks.size)
    private val indexStores = new Array[ColumnIndexStore](blocks.size)

    def offsetIndexOf(block: Int): OffsetIndex = {
      if (offsetIndexes(block) == null)
        offsetIndexes(block) =
          reader.readOffsetIndex(blocks(block).getColumns.get(0))
      offsetIndexes(block)
    }

    /** Column + offset indexes of one row group, for page pruning
      * ([[SliceRead]]); read once per open file. */
    def columnIndexStoreOf(block: Int): ColumnIndexStore = {
      if (indexStores(block) == null)
        indexStores(block) = reader.getColumnIndexStore(block)
      indexStores(block)
    }

    def close(): Unit = try reader.close() catch { case _: Exception => () }
  }

  private[storage] val MaxCached = 64
  private val cache =
    new JLinkedHashMap[String, SegReader](MaxCached, 0.75f, true) {
      override def removeEldestEntry(e: JMap.Entry[String, SegReader]): Boolean = {
        val evict = size() > MaxCached
        if (evict) e.getValue.close()
        evict
      }
    }

  /** The open reader of `file`, from the LRU shared by point reads
    * and [[SliceRead]] slices. */
  private[storage] def cached(file: String): SegReader = cache.synchronized {
    var r = cache.get(file)
    if (r == null) { r = new SegReader(file); cache.put(file, r) }
    r
  }

  /** True while a reader of `file` is open in the LRU. */
  private[graft] def isCached(file: String): Boolean =
    cache.synchronized(cache.containsKey(file))

  /** Drop (and close) the cached reader for a segment file that is
    * about to be deleted — rewrite/compact/fsck call this BEFORE the
    * delete, so the open fd neither pins the dead file's disk space
    * (Linux) nor blocks the delete itself (Windows). */
  private[storage] def invalidate(file: String): Unit = cache.synchronized {
    val r = cache.remove(file)
    if (r != null) r.close()
  }

  /** Read the row with sequence number `seqNo` from `file`. `minSeq`
    * is the segment's first seq — segments hold dense, seq-sorted rows,
    * so `seqNo - minSeq` IS the row index (verified against the
    * decoded row, never assumed blindly). */
  def readRow(
      file: String,
      schema: StructType,
      seqNo: Long,
      minSeq: Long
  ): Option[Row] = {
    if (!supported(schema)) return None
    try {
      val seg = cached(file)
      seg.synchronized {
        val rowIdx = seqNo - minSeq
        if (rowIdx < 0 || rowIdx >= seg.firstRows.last) return None
        // row group containing rowIdx
        var b = java.util.Arrays.binarySearch(seg.firstRows, rowIdx)
        if (b < 0) b = -b - 2
        if (b >= seg.blocks.size) return None
        val rowInBlock = rowIdx - seg.firstRows(b)
        // page containing rowInBlock (offset index = page first-rows).
        // A file produced by the driver-side row-group concat
        // (ParquetConcat — appendRowGroup drops page indexes) has NO
        // offset index: fall back to decoding the ONE containing row
        // group, which for concat-merged small appends is micro-batch-
        // sized; the next compact() rewrite restores the indexes.
        val oi = seg.offsetIndexOf(b)
        val pages: org.apache.parquet.column.page.PageReadStore =
          if (oi == null) seg.reader.readRowGroup(b)
          else {
            var p = 0
            var lo = 0
            var hi = oi.getPageCount - 1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (oi.getFirstRowIndex(mid) <= rowInBlock) {
                p = mid; lo = mid + 1
              } else hi = mid - 1
            }
            val ranges = RowRanges.create(
              seg.blocks(b).getRowCount,
              java.util.stream.IntStream.of(p).iterator(),
              oi
            )
            seg.reader.readFilteredRowGroup(b, ranges)
          }
        val rr = seg.columnIO.getRecordReader(
          pages,
          new GroupRecordConverter(seg.schema)
        )
        val seqIdx = schema.fieldIndex("seq")
        var n = pages.getRowCount
        while (n > 0) {
          val g = rr.read()
          if (g != null) {
            val row = convertRow(g, schema, seg.int96Mode)
            if (row.getLong(seqIdx) == seqNo) return Some(row)
          }
          n -= 1
        }
        None
      }
    } catch {
      case _: Exception => None // fall back to the Spark read path
    }
  }

  private[storage] def supported(dt: DataType): Boolean = refused(dt).isEmpty

  /** The first type inside `dt` that the converters do not convert
    * (an interval, a variant, a UDT, ...), if any. */
  private[storage] def refused(dt: DataType): Option[DataType] = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
        FloatType | BooleanType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType =>
      None
    case _: DecimalType  => None
    case st: StructType  => st.fields.iterator.flatMap(f => refused(f.dataType)).nextOption()
    case ArrayType(e, _) => refused(e)
    case MapType(k, v, _) => refused(k).orElse(refused(v))
    case other           => Some(other)
  }

  /** INT96 rebase mode for a file, resolved from its footer the way
    * Spark's own file source does (`DataSourceUtils.int96RebaseSpec`):
    * the `org.apache.spark.legacyINT96` marker forces LEGACY
    * (Julian→Gregorian rebase); an unmarked file written by Spark ≥
    * 3.1 — every file THIS engine writes — is CORRECTED (values are
    * already proleptic); unmarked pre-3.1 Spark always wrote legacy
    * INT96, so LEGACY; and a file with no Spark provenance at all gets
    * EXCEPTION — decode succeeds for modern values (where the two
    * calendars agree) and refuses pre-1582 ones loudly instead of
    * guessing a calendar, matching Spark's read-conf default. */
  private[graft] def int96RebaseMode(
      meta: java.util.Map[String, String]): String =
    if (meta != null && meta.containsKey("org.apache.spark.legacyINT96"))
      "LEGACY"
    else {
      val v = if (meta == null) null else meta.get("org.apache.spark.version")
      if (v == null) "EXCEPTION"
      else if (sparkAtLeast31(v)) "CORRECTED"
      else "LEGACY"
    }

  private def sparkAtLeast31(v: String): Boolean = {
    val parts = v.split("[.-]")
    try {
      val major = parts(0).toInt
      val minor = if (parts.length > 1) parts(1).toInt else 0
      major > 3 || (major == 3 && minor >= 1)
    } catch { case _: NumberFormatException => false }
  }

  /** Timestamp column → epoch micros, handling every physical shape
    * Spark's parquet writer emits: INT96 (the writer default —
    * nanos-of-day + Julian day) and INT64 annotated MILLIS/MICROS/
    * NANOS. INT64 values are self-written proleptic (Spark's default
    * CORRECTED/EXCEPTION write modes), so direct epoch arithmetic is
    * exact; INT96 decodes under the FILE's resolved
    * [[int96RebaseMode]] — CORRECTED reads the linear micros as-is,
    * LEGACY rebases Julian→Gregorian, and EXCEPTION (no provenance)
    * accepts values on which the calendars agree and refuses ancient
    * ones loudly — keeping this leg value-identical to the vectorized
    * leg and to Spark's own resolution at every epoch. */
  private def timestampMicros(g: Group, idx: Int, int96Mode: String): Long = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val pt = g.getType.getType(idx).asPrimitiveType()
    pt.getPrimitiveTypeName match {
      case INT96 =>
        val buf = java.nio.ByteBuffer
          .wrap(g.getInt96(idx, 0).getBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        // 2440588 = Julian day of 1970-01-01
        val linear = Math.addExact(
          Math.multiplyExact(julianDay - 2440588L, 86400000000L),
          nanosOfDay / 1000L)
        if (int96Mode == "CORRECTED") linear
        else {
          val rebased = org.apache.spark.sql.catalyst.util.RebaseDateTime
            .rebaseJulianToGregorianMicros(linear)
          if (int96Mode == "LEGACY" || rebased == linear) rebased
          else
            throw new UnsupportedOperationException(
              "pre-1582 INT96 timestamp in a parquet file with no Spark " +
                "provenance: the calendar it was written in cannot be " +
                "attributed — rewrite the file with an INT64 timestamp " +
                "type or through a Spark writer")
        }
      case INT64 =>
        val v = g.getLong(idx, 0)
        pt.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Math.multiplyExact(v, 1000L)
              case LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
              case _                                    => v // MICROS
            }
          case _ => v
        }
      case other =>
        throw new UnsupportedOperationException(s"timestamp stored as $other")
    }
  }

  /** Decimal column → Catalyst [[org.apache.spark.sql.types.Decimal]],
    * handling every physical shape Spark's parquet writer emits for
    * the precision (INT32 ≤9 digits, INT64 ≤18, FIXED_LEN_BYTE_ARRAY
    * above — plus BINARY from foreign writers). The unscaled value is
    * interpreted at the FILE's declared scale (the logical-type
    * annotation). A file scale WIDER than the requested type cannot be
    * represented without dropping fractional digits
    * (`Decimal.set` would silently ROUND_HALF_UP them), so it is
    * refused loudly; integer-digit overflow throws from the
    * precision check. Self-written segments always match exactly. */
  private def decimalOf(g: Group, idx: Int, dt: DecimalType)
      : org.apache.spark.sql.types.Decimal = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val pt = g.getType.getType(idx).asPrimitiveType()
    val fileScale = pt.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => d.getScale
      case _ => dt.scale
    }
    if (fileScale > dt.scale)
      throw new UnsupportedOperationException(
        s"decimal stored at scale $fileScale cannot be read as " +
          s"${dt.sql} without dropping fractional digits")
    val unscaled: java.math.BigInteger = pt.getPrimitiveTypeName match {
      case INT32 => java.math.BigInteger.valueOf(g.getInteger(idx, 0).toLong)
      case INT64 => java.math.BigInteger.valueOf(g.getLong(idx, 0))
      case FIXED_LEN_BYTE_ARRAY | BINARY =>
        new java.math.BigInteger(g.getBinary(idx, 0).getBytes)
      case other =>
        throw new UnsupportedOperationException(s"decimal stored as $other")
    }
    org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(unscaled, fileScale), dt.precision, dt.scale)
  }

  private[storage] def convertRow(
      g: Group,
      schema: StructType,
      int96Mode: String): Row = {
    val vals = schema.fields.map { f =>
      val idx = g.getType.getFieldIndex(f.name)
      if (g.getFieldRepetitionCount(idx) == 0) null
      else convertValue(g, idx, f.dataType, int96Mode)
    }
    new GenericRowWithSchema(vals.toArray[Any], schema)
  }

  /** Catalyst-native conversion: parquet Group → InternalRow, skipping
    * the external Row + encoder-serializer round-trip the connector
    * read path would otherwise pay per record. Strings go bytes →
    * UTF8String directly (no java.lang.String decode). */
  private[storage] def convertInternalRow(
      g: Group,
      schema: StructType,
      int96Mode: String
  ): org.apache.spark.sql.catalyst.InternalRow = {
    val vals = new Array[Any](schema.fields.length)
    var i = 0
    while (i < schema.fields.length) {
      val f = schema.fields(i)
      val idx = g.getType.getFieldIndex(f.name)
      vals(i) =
        if (g.getFieldRepetitionCount(idx) == 0) null
        else convertCatalyst(g, idx, f.dataType, int96Mode)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }

  private def convertCatalyst(
      g: Group, idx: Int, dt: DataType, int96Mode: String): Any = dt match {
    case LongType    => g.getLong(idx, 0)
    case IntegerType => g.getInteger(idx, 0)
    case ShortType   => g.getInteger(idx, 0).toShort
    case ByteType    => g.getInteger(idx, 0).toByte
    case DoubleType  => g.getDouble(idx, 0)
    case FloatType   => g.getFloat(idx, 0)
    case BooleanType => g.getBoolean(idx, 0)
    case StringType =>
      org.apache.spark.unsafe.types.UTF8String
        .fromBytes(g.getBinary(idx, 0).getBytes)
    case BinaryType     => g.getBinary(idx, 0).getBytes
    case DateType       => g.getInteger(idx, 0)
    case TimestampType  => timestampMicros(g, idx, int96Mode)
    case TimestampNTZType => timestampMicros(g, idx, int96Mode)
    case d: DecimalType => decimalOf(g, idx, d)
    case st: StructType =>
      convertInternalRow(g.getGroup(idx, 0), st, int96Mode)
    case ArrayType(et, _) =>
      val list = g.getGroup(idx, 0)
      val n = list.getFieldRepetitionCount(0)
      val arr = new Array[Any](n)
      var j = 0
      while (j < n) {
        val el = list.getGroup(0, j)
        arr(j) =
          if (el.getFieldRepetitionCount(0) == 0) null
          else convertCatalyst(el, 0, et, int96Mode)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    case MapType(kt, vt, _) =>
      // parquet MAP: repeated key_value { required key; optional value }
      val map = g.getGroup(idx, 0)
      val n = map.getFieldRepetitionCount(0)
      val keys = new Array[Any](n)
      val vals = new Array[Any](n)
      var j = 0
      while (j < n) {
        val kv = map.getGroup(0, j)
        keys(j) = convertCatalyst(kv, 0, kt, int96Mode)
        vals(j) =
          if (kv.getFieldRepetitionCount(1) == 0) null
          else convertCatalyst(kv, 1, vt, int96Mode)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
    case other => throw new UnsupportedOperationException(other.sql)
  }

  private def convertValue(
      g: Group, idx: Int, dt: DataType, int96Mode: String): Any = dt match {
    case LongType    => g.getLong(idx, 0)
    case IntegerType => g.getInteger(idx, 0)
    case ShortType   => g.getInteger(idx, 0).toShort
    case ByteType    => g.getInteger(idx, 0).toByte
    case DoubleType  => g.getDouble(idx, 0)
    case FloatType   => g.getFloat(idx, 0)
    case BooleanType => g.getBoolean(idx, 0)
    case StringType  => g.getString(idx, 0)
    case BinaryType  => g.getBinary(idx, 0).getBytes
    case DateType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaDate(g.getInteger(idx, 0))
    case TimestampType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaTimestamp(timestampMicros(g, idx, int96Mode))
    case TimestampNTZType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .microsToLocalDateTime(timestampMicros(g, idx, int96Mode))
    case d: DecimalType => decimalOf(g, idx, d).toJavaBigDecimal
    case st: StructType => convertRow(g.getGroup(idx, 0), st, int96Mode)
    case ArrayType(et, _) =>
      // Spark's standard 3-level list layout: group(LIST) >
      // repeated group list > optional element
      val list = g.getGroup(idx, 0)
      val n = list.getFieldRepetitionCount(0)
      (0 until n).map { j =>
        val el = list.getGroup(0, j)
        if (el.getFieldRepetitionCount(0) == 0) null
        else convertValue(el, 0, et, int96Mode)
      }
    case MapType(kt, vt, _) =>
      val map = g.getGroup(idx, 0)
      val n = map.getFieldRepetitionCount(0)
      (0 until n).map { j =>
        val kv = map.getGroup(0, j)
        convertValue(kv, 0, kt, int96Mode) ->
          (if (kv.getFieldRepetitionCount(1) == 0) null
           else convertValue(kv, 1, vt, int96Mode))
      }.toMap
    case other => throw new UnsupportedOperationException(other.sql)
  }
}
