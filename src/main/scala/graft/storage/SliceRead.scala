package graft.storage

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.internal.filter2.columnindex.{ColumnIndexFilter, RowRanges}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Driver-side read of a small SLICE of a [[TableStore]] — the rows of
  * one key (a KV addr, a sublog's `(bucket, addr)`) — with no Spark
  * job: the derived-view twin of [[DirectRead]]'s point read, and the
  * analogue of the reference answering an index `Get` and a sublog
  * `Select` in-process (indexes/index.go:27-38,
  * multilog/roaring/sublog.go:40-60).
  *
  * It works on [[DirectRead]]'s LRU of open segment readers (parsed
  * footers, page indexes) and prunes in two steps before it decodes
  * anything:
  *
  *   1. row groups, by their footer min/max statistics;
  *   2. pages, by the column indexes: the row ranges whose pages admit
  *      the predicate (`ColumnIndexFilter`), read with
  *      `readFilteredRowGroup`. A file without page indexes (the
  *      driver-side row-group concat drops them) keeps its whole
  *      surviving row groups.
  *
  * The pruned row count is known before decoding, so a slice larger
  * than the caller's bound is refused (None) without reading a data
  * page, and the caller runs its Spark job instead. Surviving rows
  * are decoded through parquet's record filter (only records that
  * satisfy the predicate are converted) by
  * [[DirectRead.convertInternalRow]]. A caller that needs only the
  * smallest matching seqs of each row group (`firstSeqsPerGroup` of
  * [[rows]]) stops that group's decode there.
  *
  * Callers: the derived-view reads ([[TableStore.slice]]) and small
  * root collects of graft-log scans
  * ([[graft.sources.GraftLogScan.driverRows]]).
  */
private[graft] object SliceRead {

  /** Default bound on the rows a driver slice may decode, counted from
    * the page-pruned row ranges. Measured on 4 cores (local[4]) for the
    * KV point read, the costlier row shape: one key's slice of 100k
    * rows read in 101 ms on the driver against 129 ms for the job
    * path, 200k in 127 against 181 ms, 400k in 228 against 200 ms (a
    * sublog query still wins at 400k). The bound sits below that
    * crossover, so the rows a driver read holds stay few. */
  private[graft] val MaxRows: Long = 1L << 17

  /** A slice opens at most this many segment files — half the shared
    * reader cache — so one read cannot evict the log's point-read
    * readers; a store with more segments (many small commits since its
    * last fold) runs the job path. */
  private val MaxFiles: Int = DirectRead.MaxCached / 2

  /** Rows of `files` that satisfy `filter`, laid out as `schema`, in
    * file order. None when the page-pruned row ranges hold more than
    * `maxRows` rows, when there are more than [[MaxFiles]] files, when
    * `schema` holds a type the converter does not support, or when a
    * file cannot be read on the driver.
    *
    * `firstSeqsPerGroup = Some(k)` stops each row group's decode after
    * the matching rows that carry its first `k` distinct values of the
    * long `seq` column. Sound only where the rows the predicate admits
    * are sorted by `seq` within each row group — one addr's slice of a
    * [[TableStore]] written with a `(bucket, addr, seq)` `sortWithin`
    * layout, which every write path keeps per row group (the
    * row-group concat copies sorted groups; the coalesce fallback
    * sorts again): a group's unread rows then hold only larger seqs,
    * or repeats of the last one read. Per row group, not per file: a
    * `ParquetConcat`-merged file is sorted only within each of its row
    * groups. Distinct values, not rows: a rewrite that does not
    * deduplicate leaves equal seqs side by side in one group. */
  def rows(
      files: Seq[String],
      schema: StructType,
      filter: FilterPredicate,
      maxRows: Long,
      firstSeqsPerGroup: Option[Int] = None
  ): Option[Vector[InternalRow]] = {
    if (files.length > MaxFiles || !DirectRead.supported(schema)) return None
    val compat = FilterCompat.get(filter)
    try {
      val planned = files.map { f =>
        val seg = DirectRead.cached(f)
        seg -> plan(seg, compat)
      }
      if (planned.iterator.flatMap(_._2).map(_._2.rowCount).sum > maxRows)
        return None
      val cap = firstSeqsPerGroup.map(k => (k, schema.fieldIndex("seq")))
      val out = Vector.newBuilder[InternalRow]
      planned.foreach { case (seg, groups) =>
        decode(seg, groups, schema, compat, cap, out += _)
      }
      Some(out.result())
    } catch {
      case _: Exception => None // the caller's job path answers
    }
  }

  /** The surviving row groups of one file and their page row ranges. */
  private def plan(
      seg: DirectRead.SegReader,
      filter: FilterCompat.Filter
  ): Seq[(Int, RowRanges)] = seg.synchronized {
    val kept = RowGroupFilter
      .filterRowGroups(filter, seg.blocks.asJava, seg.schema)
      .asScala.toSet
    val paths = seg.schema.getColumns.asScala
      .map(c => ColumnPath.get(c.getPath: _*)).toSet.asJava
    seg.blocks.indices.filter(b => kept.contains(seg.blocks(b))).flatMap { b =>
      val ranges = ColumnIndexFilter.calculateRowRanges(filter,
        seg.columnIndexStoreOf(b), paths, seg.blocks(b).getRowCount)
      if (ranges.rowCount == 0) None else Some(b -> ranges)
    }
  }

  private def decode(
      seg: DirectRead.SegReader,
      groups: Seq[(Int, RowRanges)],
      schema: StructType,
      filter: FilterCompat.Filter,
      cap: Option[(Int, Int)],
      emit: InternalRow => Unit
  ): Unit = seg.synchronized {
    val (k, capIdx) = cap.getOrElse((Int.MaxValue, -1))
    groups.foreach { case (b, ranges) =>
      val pages =
        if (ranges.rowCount == seg.blocks(b).getRowCount)
          seg.reader.readRowGroup(b)
        else seg.reader.readFilteredRowGroup(b, ranges)
      val rr = seg.columnIO.getRecordReader(pages,
        new GroupRecordConverter(seg.schema), filter)
      var n = pages.getRowCount
      var seen = 0 // distinct cap-column values read in this group
      var last = 0L
      while (n > 0 && seen <= k) {
        val g = rr.read()
        // null = a record the predicate rejected
        if (g != null) {
          val row = DirectRead.convertInternalRow(g, schema, seg.int96Mode)
          if (capIdx >= 0 && (seen == 0 || row.getLong(capIdx) != last)) {
            seen += 1
            last = row.getLong(capIdx)
          }
          if (seen <= k) emit(row)
        }
        n -= 1
      }
    }
  }
}
