package graft.storage

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar ([[ColumnarBatch]]) segment scan for the DSv2 connectors —
  * the vectorized twin of [[SegmentRecords]]. Decoding goes through
  * Spark's own `VectorizedParquetRecordReader` (the engine the parquet
  * FILE source uses), so a connector scan pays the same per-value cost
  * as `spark.read.parquet` instead of parquet-mr's record-assembly
  * path (~1.3-1.6× on scan-bound drains, measured in BASELINE.md) —
  * while keeping everything the connector adds: manifest-scoped
  * visibility, planning-time seq pruning, segment packing, statistics.
  *
  * Used only for the ALL-FILES-PRESENT batch path where no row-level
  * range check is needed (committed segment contents are within their
  * manifest range by the dense-seq invariant). The concurrent-rewrite
  * fallback and the range-cut streaming path stay on the row reader,
  * whose re-resolution + filtering semantics are spec-pinned;
  * [[RowRepackReader]] adapts that row reader back to batches when a
  * plan already committed to columnar. */
private[graft] object SegmentBatches {

  /** Batch size: Spark's own parquet vectorized-reader default. */
  val Capacity = 4096

  /** Exactly the types BOTH legs handle: Spark's vectorized parquet
    * decoder (fast path) AND the row leg behind the fallbacks — the
    * [[RowRepackReader]] copy and the `columnar.enabled=false` A/B
    * toggle both run [[SegmentRecords]]/[[DirectRead]], so admitting a
    * type here that the row converter throws on would make the safety
    * valves fail exactly when they're needed. Atomic types composed
    * ARBITRARILY through structs, arrays, and maps (round 11 closed
    * the nesting ladder: the vectorized reader decodes nested columns
    * natively at any depth, [[writeValue]] repacks row-indexed levels
    * and [[appendAt]] append-mode levels below the first array/map
    * boundary, and the boundary-slice offset views compose over
    * getChild / delegate self-contained getArray/getMap).
    * Date/Timestamp(/NTZ)/Decimal are admitted at every nesting level
    * (round 13 — the last row-path value shapes): the vectorized
    * reader decodes all of them natively (days-int / micros-long /
    * precision-tiered int/long/bytes), the row converter handles the
    * same shapes, and the datetime-rebase question the old exclusion
    * sidestepped is answered structurally — [[open]] pins the decode
    * modes Spark's own file source resolves for self-written files and
    * [[guardDatetimeEncoding]] REFUSES the one file shape those modes
    * would mis-read (a legacy-rebase footer marker). */
  def supported(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall(f => admitted(f.dataType))

  private def admitted(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType =>
      true
    case _: DecimalType => true
    case st: StructType =>
      st.fields.nonEmpty && st.fields.forall(f => admitted(f.dataType))
    case ArrayType(et, _) => admitted(et)
    case MapType(kt, vt, _) => admitted(kt) && admitted(vt)
    case _ => false
  }

  /** Does the requested schema contain a datetime column at any
    * nesting level (the types subject to parquet's rebase rules)? */
  private def hasDatetime(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => true
    case st: StructType => st.fields.exists(f => hasDatetime(f.dataType))
    case ArrayType(et, _) => hasDatetime(et)
    case MapType(kt, vt, _) => hasDatetime(kt) || hasDatetime(vt)
    case _ => false
  }

  /** The vectorized decode below pins CORRECTED (proleptic) handling
    * for INT32-date/INT64-timestamp columns — exactly what Spark's own
    * file source resolves for files this engine writes (Spark 4's
    * writer emits proleptic INT32/INT64 values; its default
    * `datetimeRebaseModeInWrite = EXCEPTION` refuses ancient values
    * rather than rebasing). INT96 is NOT pinned: its mode is resolved
    * per FILE from the footer like `DataSourceUtils.int96RebaseSpec`
    * does ([[DirectRead.int96RebaseMode]] — marker→LEGACY, Spark≥3.1→
    * CORRECTED, no provenance→EXCEPTION) and handed to the reader, so
    * a foreign CORRECTED-written INT96 file with pre-1582 values
    * decodes exactly as Spark would, never silently Julian-rebased.
    * The ONE file shape the INT32/INT64 pin would silently mis-read is
    * a footer carrying Spark's legacy-rebase marker (values written
    * under forced `LEGACY` mode, Julian-rebased pre-1582) — refused
    * loudly. Only checked when the REQUESTED schema has datetime
    * columns — decimal and every other admitted type is rebase-free. */
  private def guardDatetimeEncoding(
      meta: java.util.Map[String, String],
      file: String
  ): Unit =
    if (meta.containsKey("org.apache.spark.legacyDateTime"))
      throw new UnsupportedOperationException(
        s"$file was written with LEGACY (Julian) datetime rebase; " +
          "this engine writes and reads proleptic values only — " +
          "rewrite the data with datetimeRebaseModeInWrite=CORRECTED")

  /** Open ONE immutable segment file for vectorized reads, projected
    * to `schema`'s columns (unrequested chunks never decoded). The
    * caller drives `nextBatch()` / `resultBatch()` and owns `close()`.
    *
    * Decode-mode pinning: the `VectorizedParquetRecordReader` is
    * initialized through the [[org.apache.spark.sql.execution
    * .datasources.parquet.GraftVectorizedRange]] hand-off with a conf
    * matching Spark's own file source (CORRECTED proleptic INT32/INT64
    * datetime decode, native INT96 with its default LEGACY rebase) —
    * exactly what this engine's writer produces under every default;
    * the one file shape that pin would mis-read is refused by
    * [[guardDatetimeEncoding]] before any value is decoded (checked on
    * the same footer the open already reads, so it costs nothing). */
  def open(file: String, schema: StructType): VectorizedParquetRecordReader =
    openVectorized(file, schema, None)

  private def openVectorized(
      file: String,
      schema: StructType,
      range: Option[(Long, Long)]
  ): VectorizedParquetRecordReader = {
    val optsB = org.apache.parquet.ParquetReadOptions.builder()
    val opts = range match {
      case Some((s, e)) => optsB.withRange(s, e).build()
      case None => optsB.build()
    }
    val pr = org.apache.parquet.hadoop.ParquetFileReader.open(
      FileIO.forPath(file).inputFile(file), opts)
    var ok = false
    try {
      if (schema.fields.exists(f => hasDatetime(f.dataType)))
        guardDatetimeEncoding(
          pr.getFooter.getFileMetaData.getKeyValueMetaData, file)
      val fileSchema = pr.getFooter.getFileMetaData.getSchema
      val projected = SegmentRecords.clip(fileSchema, schema)
      pr.setRequestedSchema(projected)
      val totalRows = pr.getRowGroups.asScala.map(_.getRowCount).sum
      // the 2-arg constructor pins int96RebaseMode=LEGACY; resolve it
      // from the file's provenance instead. Other args reproduce the
      // 2-arg defaults (no convertTz, CORRECTED proleptic INT32/INT64,
      // on-heap) except the int96 rebase zone: UTC — the session TZ
      // this engine pins everywhere — rather than the 2-arg ctor's
      // JVM-default zone (only consulted for LEGACY-marked files)
      val int96Mode = DirectRead.int96RebaseMode(
        pr.getFooter.getFileMetaData.getKeyValueMetaData)
      val reader = new VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", int96Mode, "UTC", false, Capacity)
      try {
        org.apache.spark.sql.execution.datasources.parquet
          .GraftVectorizedRange
          .initialize(reader, fileSchema, projected, pr, totalRows)
        reader.initBatch(new StructType(), InternalRow.empty)
        reader.enableReturningBatches()
        ok = true
        reader
      } finally if (!ok) reader.close()
    } finally if (!ok) pr.close()
  }

  /** Same vectorized open, limited to the row groups whose byte
    * MIDPOINT falls in `[start, end)` — one row-group-aligned split
    * of an oversized segment (`SegmentPacking.splitSegment`; sibling
    * ranges tile the file, so together the splits decode it exactly
    * once). The row groups come from a parquet-mr reader opened with
    * `withRange` and are handed to the vectorized decoder through
    * [[org.apache.spark.sql.execution.datasources.parquet
    * .GraftVectorizedRange]] (the hand-off interface is
    * package-private in Spark). Same datetime-encoding guard as
    * [[open]] (checked against the already-open footer, so it costs
    * nothing here). */
  def openRange(
      file: String,
      schema: StructType,
      start: Long,
      end: Long
  ): VectorizedParquetRecordReader =
    openVectorized(file, schema, Some((start, end)))

  /** Sequential vectorized scan over a partition's packed segment
    * files: one reader per file, batches streamed through. `range`
    * (set only for single-file row-group-aligned splits) limits the
    * decode to the split's row groups. `rowRange` — a half-open
    * `[start, end)` of ROW INDICES relative to the partition's first
    * decoded row — cuts the stream positionally: because log seqs are
    * DENSE, a seq cut `[lo, hi]` is exactly the row-index range
    * `[lo - minSeq, hi - minSeq + 1)`, so a bounded or streaming
    * micro-batch read stays on the vectorized path without ever
    * decoding the `seq` column. Batches fully outside the cut are
    * dropped; a boundary batch is sliced zero-copy ([[SlicedBatch]]).
    */
  final class VectorizedSegmentsReader(
      files: Seq[String],
      schema: StructType,
      range: Option[(Long, Long)] = None,
      rowRange: Option[(Long, Long)] = None
  ) extends PartitionReader[ColumnarBatch] {
    private val remaining = files.iterator
    private var reader: VectorizedParquetRecordReader = null
    private var batch: ColumnarBatch = null
    private var out: ColumnarBatch = null
    // rows decoded so far across all files (index of the NEXT row)
    private var decoded = 0L

    override def next(): Boolean = {
      var advanced = false
      var done = false
      while (!advanced && !done) {
        if (reader == null) {
          if (!remaining.hasNext) done = true
          else {
            val f = remaining.next()
            reader = range match {
              case Some((s, e)) => openRange(f, schema, s, e)
              case None => open(f, schema)
            }
            batch = reader.resultBatch()
          }
        }
        if (!done) {
          if (reader.nextBatch()) {
            val n = batch.numRows()
            val first = decoded
            decoded += n
            rowRange match {
              case None => out = batch; advanced = true
              case Some((start, end)) =>
                if (first >= end) {
                  // past the cut: no later batch of any later file can
                  // overlap a fixed [start, end) — stop decoding NOW
                  // (a point lookup must not pay a full-partition
                  // decode for its trailing row groups)
                  reader.close(); reader = null; batch = null
                  done = true
                } else {
                  // overlap of [first, first+n) with [start, end)
                  val s = math.max(first, start)
                  val e = math.min(first + n, end)
                  if (s < e) {
                    out =
                      if (s == first && e == first + n) batch
                      else SlicedBatch(batch, (s - first).toInt, (e - s).toInt)
                    advanced = true
                  }
                  // else: batch before the cut — keep decoding
                  // (leading skip; parquet reads are sequential)
                }
            }
          } else { reader.close(); reader = null; batch = null }
        }
      }
      advanced
    }
    override def get(): ColumnarBatch = out
    override def close(): Unit = if (reader != null) { reader.close(); reader = null }
  }

  /** Zero-copy positional slice of a boundary batch: wraps each column
    * in an offset view and truncates the row count. Serves every type
    * [[supported]] admits — atomics (incl. date-int / timestamp-long /
    * decimal) directly, structs via cached offset child views,
    * arrays/maps by getArray/getMap delegation. */
  private def SlicedBatch(b: ColumnarBatch, offset: Int, len: Int): ColumnarBatch = {
    val cols = (0 until b.numCols()).map(i =>
      new OffsetVector(b.column(i), offset): ColumnVector)
    new ColumnarBatch(cols.toArray, len)
  }

  /** Read-only offset view over a decoded [[ColumnVector]] — row `i`
    * here is row `i + offset` of the base vector. Only the atomic
    * getters are real; the base vectors stay owned (and closed) by
    * their `VectorizedParquetRecordReader`. */
  private final class OffsetVector(base: ColumnVector, offset: Int)
      extends ColumnVector(base.dataType()) {
    // child views built once — ColumnarRow calls getChild per FIELD
    // per ROW, so allocating there would churn the hot decode path
    private lazy val children: Array[ColumnVector] =
      base.dataType() match {
        case st: StructType =>
          Array.tabulate(st.fields.length)(i =>
            new OffsetVector(base.getChild(i), offset))
        case _ => Array.empty
      }
    override def close(): Unit = () // base owned by the parquet reader
    override def hasNull: Boolean = base.hasNull
    override def numNulls: Int =
      // upper bound; only used for diagnostics on this path
      base.numNulls()
    override def isNullAt(i: Int): Boolean = base.isNullAt(i + offset)
    override def getBoolean(i: Int): Boolean = base.getBoolean(i + offset)
    override def getByte(i: Int): Byte = base.getByte(i + offset)
    override def getShort(i: Int): Short = base.getShort(i + offset)
    override def getInt(i: Int): Int = base.getInt(i + offset)
    override def getLong(i: Int): Long = base.getLong(i + offset)
    override def getFloat(i: Int): Float = base.getFloat(i + offset)
    override def getDouble(i: Int): Double = base.getDouble(i + offset)
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
      base.getUTF8String(i + offset)
    override def getBinary(i: Int): Array[Byte] = base.getBinary(i + offset)
    // ColumnarArray/Map are self-contained (child vector + offset +
    // length) — delegate at the shifted index, no view needed
    override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      base.getArray(i + offset)
    override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      base.getMap(i + offset)
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      base.getDecimal(i + offset, p, s)
    // struct access: getStruct (final in ColumnVector) reads through
    // getChild — offset views compose over the cached children
    override def getChild(i: Int): ColumnVector = children(i)
  }

  /** Adapts a row-based [[PartitionReader]] to batches — the rare
    * concurrent-rewrite fallback when a plan already committed to
    * columnar: the row reader owns re-resolution, range filtering, and
    * the `_ver` fold refusal; this only changes the emit shape. */
  final class RowRepackReader(
      rows: PartitionReader[InternalRow],
      schema: StructType
  ) extends PartitionReader[ColumnarBatch] {
    private val vectors =
      schema.fields.map(f => new OnHeapColumnVector(Capacity, f.dataType))
    private val batch =
      new ColumnarBatch(vectors.map(v => v: ColumnVector).toArray)

    override def next(): Boolean = {
      var n = 0
      vectors.foreach(_.reset())
      while (n < Capacity && rows.next()) {
        val row = rows.get()
        var c = 0
        while (c < vectors.length) {
          writeValue(vectors(c), n, row, c, schema.fields(c).dataType)
          c += 1
        }
        n += 1
      }
      batch.setNumRows(n)
      n > 0
    }
    override def get(): ColumnarBatch = batch
    override def close(): Unit = { rows.close(); batch.close() }
  }

  private def writeValue(
      v: WritableColumnVector,
      i: Int,
      row: InternalRow,
      c: Int,
      dt: DataType
  ): Unit =
    if (row.isNullAt(c)) putNullDeep(v, i, dt)
    else
      dt match {
        case BooleanType => v.putBoolean(i, row.getBoolean(c))
        case ByteType => v.putByte(i, row.getByte(c))
        case ShortType => v.putShort(i, row.getShort(c))
        case IntegerType => v.putInt(i, row.getInt(c))
        case LongType => v.putLong(i, row.getLong(c))
        case FloatType => v.putFloat(i, row.getFloat(c))
        case DoubleType => v.putDouble(i, row.getDouble(c))
        case StringType =>
          val b = row.getUTF8String(c).getBytes
          v.putByteArray(i, b, 0, b.length)
        case BinaryType =>
          val b = row.getBinary(c)
          v.putByteArray(i, b, 0, b.length)
        case DateType => v.putInt(i, row.getInt(c))
        case TimestampType | TimestampNTZType => v.putLong(i, row.getLong(c))
        case d: DecimalType =>
          // putDecimal picks the precision-tiered physical layout
          // (int ≤9 digits, long ≤18, unscaled bytes above) — the same
          // tiers the vectorized parquet decoder produces
          v.putDecimal(i, row.getDecimal(c, d.precision, d.scale), d.precision)
        case st: StructType =>
          // struct: validity on the parent, fields recursed into the
          // child vectors at the same row index (null parent also
          // nulls the children so every child slot is defined)
          v.putNotNull(i)
          val nested = row.getStruct(c, st.fields.length)
          var j = 0
          while (j < st.fields.length) {
            writeValue(v.getChild(j).asInstanceOf[WritableColumnVector],
              i, nested, j, st.fields(j).dataType)
            j += 1
          }
        case ArrayType(et, _) =>
          // array: elements APPENDED to the child's tail, the parent
          // records (offset, length) — the standard writable-vector
          // array layout; reset() rewinds the child between batches
          val arr = row.getArray(c)
          v.putArray(i, appendArrayElems(v, arr, et), arr.numElements())
        case MapType(kt, vt, _) =>
          // map: the writable-vector map layout is the array layout
          // with TWO children (0 = keys, 1 = values) sharing the
          // parent's offsets — append n keys and n values, record
          // (start, n) once. Map keys are non-null by Spark's data
          // model; values may be null (appendAt handles both).
          val m = row.getMap(c)
          v.putArray(i, appendMapEntries(v, m, kt, vt), m.numElements())
        case other =>
          // unreachable behind supported(); loud beats silent corruption
          throw new UnsupportedOperationException(
            s"columnar repack does not handle $other")
      }

  /** Append every element of `arr` to the array vector's child tail;
    * returns the child tail BEFORE the appends (the parent's offset).
    * Shared by the row-indexed [[writeValue]] (which records the
    * offset with putArray) and the append-mode [[appendAt]] (which
    * records it via appendArray BEFORE calling this). */
  private def appendArrayElems(
      v: WritableColumnVector,
      arr: org.apache.spark.sql.catalyst.util.ArrayData,
      et: DataType
  ): Int = {
    val child = v.getChild(0).asInstanceOf[WritableColumnVector]
    val start = child.getElementsAppended
    val n = arr.numElements()
    var k = 0
    while (k < n) { appendAt(child, arr, k, et); k += 1 }
    start
  }

  /** Append every (key, value) of `m` to the map vector's two
    * children in lockstep; returns the keys-child tail BEFORE the
    * appends (map offsets are recorded from the KEYS child). */
  private def appendMapEntries(
      v: WritableColumnVector,
      m: org.apache.spark.sql.catalyst.util.MapData,
      kt: DataType,
      vt: DataType
  ): Int = {
    val kc = v.getChild(0).asInstanceOf[WritableColumnVector]
    val vc = v.getChild(1).asInstanceOf[WritableColumnVector]
    val start = kc.getElementsAppended
    val ka = m.keyArray()
    val va = m.valueArray()
    val n = m.numElements()
    var k = 0
    while (k < n) {
      appendAt(kc, ka, k, kt)
      appendAt(vc, va, k, vt)
      k += 1
    }
    start
  }

  /** Append one element at the child vector's tail, recursing through
    * any nesting — the APPEND-mode twin of [[writeValue]], used below
    * the first array/map boundary (where positions are element-tail
    * indices, not row indices). Container contract, from the
    * WritableColumnVector bytecode: `appendArray(n)` records
    * (childTail, n) on the parent THEN the n elements append to the
    * child(ren) — for maps the offsets come from the KEYS child, so
    * keys and values must each append exactly n; `appendStruct(true)`
    * nulls self AND children (alignment preserved);
    * `appendStruct(false)` marks self non-null and the caller appends
    * every field child exactly once. `g` is any SpecializedGetters
    * (ArrayData or InternalRow). */
  private def appendAt(
      child: WritableColumnVector,
      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      j: Int,
      et: DataType
  ): Unit =
    if (g.isNullAt(j)) et match {
      case _: StructType => child.appendStruct(true)
      case _ => child.appendNull()
    }
    else
      et match {
        case BooleanType => child.appendBoolean(g.getBoolean(j))
        case ByteType => child.appendByte(g.getByte(j))
        case ShortType => child.appendShort(g.getShort(j))
        case IntegerType => child.appendInt(g.getInt(j))
        case LongType => child.appendLong(g.getLong(j))
        case FloatType => child.appendFloat(g.getFloat(j))
        case DoubleType => child.appendDouble(g.getDouble(j))
        case StringType =>
          val b = g.getUTF8String(j).getBytes
          child.appendByteArray(b, 0, b.length)
        case BinaryType =>
          val b = g.getBinary(j)
          child.appendByteArray(b, 0, b.length)
        case DateType => child.appendInt(g.getInt(j))
        case TimestampType | TimestampNTZType => child.appendLong(g.getLong(j))
        case d: DecimalType =>
          // append-mode twin of putDecimal's precision tiers (there is
          // no appendDecimal on WritableColumnVector)
          val dec = g.getDecimal(j, d.precision, d.scale)
          if (d.precision <= Decimal.MAX_INT_DIGITS)
            child.appendInt(dec.toUnscaledLong.toInt)
          else if (d.precision <= Decimal.MAX_LONG_DIGITS)
            child.appendLong(dec.toUnscaledLong)
          else {
            val b = dec.toJavaBigDecimal.unscaledValue.toByteArray
            child.appendByteArray(b, 0, b.length)
          }
        case st: StructType =>
          child.appendStruct(false)
          val nested = g.getStruct(j, st.fields.length)
          var k = 0
          while (k < st.fields.length) {
            appendAt(child.getChild(k).asInstanceOf[WritableColumnVector],
              nested, k, st.fields(k).dataType)
            k += 1
          }
        case ArrayType(inner, _) =>
          // appendArray records (childTail, n) and MUST run before
          // the element appends
          val arr = g.getArray(j)
          child.appendArray(arr.numElements())
          appendArrayElems(child, arr, inner)
        case MapType(kt, vt, _) =>
          val m = g.getMap(j)
          child.appendArray(m.numElements()) // offsets from keys child
          appendMapEntries(child, m, kt, vt)
        case other =>
          throw new UnsupportedOperationException(
            s"columnar repack does not handle nested $other")
      }

  /** Null a slot, recursing into struct children so no child index is
    * ever left undefined (readers check the parent's validity first,
    * but defined slots keep the vectors audit-clean). */
  private def putNullDeep(v: WritableColumnVector, i: Int, dt: DataType): Unit = {
    v.putNull(i)
    dt match {
      case st: StructType =>
        var j = 0
        while (j < st.fields.length) {
          putNullDeep(v.getChild(j).asInstanceOf[WritableColumnVector], i,
            st.fields(j).dataType)
          j += 1
        }
      case _ => ()
    }
  }
}
