package graft.storage

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Executor-side sequential scan of ONE immutable log segment via
  * parquet-mr — the reader behind the [[graft.sources.GraftLogSource]]
  * DataSourceV2 partitions (each segment = one input partition; no
  * Spark file-source machinery involved). Reuses [[DirectRead]]'s
  * record converter, so it supports the same value shapes
  * (primitives, strings, binary, dates, timestamps, decimals,
  * structs, arrays, maps). */
private[graft] object SegmentRecords {

  def supported(schema: StructType): Boolean = DirectRead.supported(schema)

  /** All rows of `file` in storage order, PROJECTED to exactly the
    * columns in `schema`: the parquet reader is given the pruned
    * requested schema, so column chunks for unrequested fields are
    * never fetched or decoded — `select(seq)` over a log with fat
    * values reads only the seq chunks. The returned iterator owns
    * the open reader and closes it on exhaustion; call `close()` on
    * early abort. */
  def iterator(file: String, schema: StructType): ClosingRowIterator = {
    val (reader, columnIO, projected, int96Mode) = open(file, schema, None)
    new ClosingRowIterator(reader, columnIO, projected, schema, int96Mode)
  }

  /** Same scan, emitting Catalyst [[InternalRow]]s directly (no
    * external Row, no encoder serializer) — the connector read path.
    * Each returned row is freshly allocated: safe to hold without
    * copying. `range = Some((start, end))` limits the scan to the row
    * groups whose byte MIDPOINT falls in `[start, end)` (parquet's
    * standard split rule) — a row-group-aligned SPLIT of an oversized
    * segment (see
    * `SegmentPacking.splitSegment`); sibling ranges tile the file, so
    * together the splits read it exactly once. */
  def internalIterator(
      file: String,
      schema: StructType,
      range: Option[(Long, Long)] = None
  ): ClosingInternalRowIterator = {
    val (reader, columnIO, projected, int96Mode) = open(file, schema, range)
    new ClosingInternalRowIterator(
      reader, columnIO, projected, schema, int96Mode)
  }

  /** The parquet columns a read of `schema` fetches: `fileSchema`
    * clipped to `schema` by Spark's own parquet read support, nested
    * fields included (a pruned `value: struct<user_id>` requests one
    * leaf of the value group). Both readers request this, and the
    * record converter resolves fields by name, so it reads the clipped
    * layout unchanged. */
  private[storage] def clip(
      fileSchema: org.apache.parquet.schema.MessageType,
      schema: StructType
  ): org.apache.parquet.schema.MessageType =
    org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .clipParquetSchema(fileSchema, schema, caseSensitive = true,
        useFieldId = false, returnNullStructIfAllFieldsMissing = false)

  private def open(
      file: String,
      schema: StructType,
      range: Option[(Long, Long)]
  ): (ParquetFileReader, org.apache.parquet.io.MessageColumnIO,
      org.apache.parquet.schema.MessageType, String) = {
    val opts = range match {
      case Some((start, end)) =>
        ParquetReadOptions.builder().withRange(start, end).build()
      case None => ParquetReadOptions.builder().build()
    }
    val reader = ParquetFileReader.open(FileIO.forPath(file).inputFile(file), opts)
    val projected = clip(reader.getFooter.getFileMetaData.getSchema, schema)
    reader.setRequestedSchema(projected)
    val columnIO = new ColumnIOFactory().getColumnIO(projected)
    // INT96 decode mode is a property of the FILE (footer provenance),
    // resolved once here and closed over by the row converter
    val int96Mode = DirectRead.int96RebaseMode(
      reader.getFooter.getFileMetaData.getKeyValueMetaData)
    (reader, columnIO, projected, int96Mode)
  }

  /** One row-group-advancing scan over an open parquet reader,
    * converting each record via `convert` — the shared state machine
    * behind both row shapes (external Row for the API surface,
    * InternalRow for the connector), so the advance/close discipline
    * exists exactly once. The iterator owns the reader and closes it
    * on exhaustion; call `close()` on early abort. */
  sealed class ClosingIterator[A](
      reader: ParquetFileReader,
      columnIO: org.apache.parquet.io.MessageColumnIO,
      fileSchema: org.apache.parquet.schema.MessageType,
      schema: StructType,
      convert: (org.apache.parquet.example.data.Group, StructType) => A
  ) extends Iterator[A] {
    private var pages = reader.readNextRowGroup()
    private var recordReader =
      if (pages == null) null
      else columnIO.getRecordReader(pages, new GroupRecordConverter(fileSchema))
    private var remaining = if (pages == null) 0L else pages.getRowCount
    private var closed = false

    private def advance(): Unit =
      while (remaining == 0 && !closed) {
        pages = reader.readNextRowGroup()
        if (pages == null) close()
        else {
          recordReader =
            columnIO.getRecordReader(pages, new GroupRecordConverter(fileSchema))
          remaining = pages.getRowCount
        }
      }

    override def hasNext: Boolean = {
      advance()
      !closed
    }

    override def next(): A = {
      advance()
      if (closed) throw new NoSuchElementException
      remaining -= 1
      convert(recordReader.read(), schema)
    }

    def close(): Unit = if (!closed) {
      closed = true
      try reader.close()
      catch { case _: Exception => () }
    }
  }

  final class ClosingRowIterator(
      reader: ParquetFileReader,
      columnIO: org.apache.parquet.io.MessageColumnIO,
      fileSchema: org.apache.parquet.schema.MessageType,
      schema: StructType,
      int96Mode: String
  ) extends ClosingIterator[Row](
    reader, columnIO, fileSchema, schema,
    (g, s) => DirectRead.convertRow(g, s, int96Mode))

  final class ClosingInternalRowIterator(
      reader: ParquetFileReader,
      columnIO: org.apache.parquet.io.MessageColumnIO,
      fileSchema: org.apache.parquet.schema.MessageType,
      schema: StructType,
      int96Mode: String
  ) extends ClosingIterator[org.apache.spark.sql.catalyst.InternalRow](
    reader, columnIO, fileSchema, schema,
    (g, s) => DirectRead.convertInternalRow(g, s, int96Mode))
}
