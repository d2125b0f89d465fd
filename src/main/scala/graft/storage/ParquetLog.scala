package graft.storage

import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._

/** A durable, append-only, dense-sequence log backed by immutable
  * parquet segments plus a tiny atomic [[Manifest]].
  *
  * Capability parity with the reference's offset2 log
  * (reference: offset2/log.go) re-expressed for Spark:
  *
  *   - `append` — single-committer write that stamps dense seqs
  *     (`maxSeq+1 …`) exactly like the journal bump discipline
  *     (offset2/log.go:425-462). Appends from many sources funnel
  *     through one committer; readers scale out unboundedly because
  *     segments are immutable parquet.
  *   - `get(seq)` — manifest maps seq → one segment file (driver-side
  *     O(log #segments)), then a single-file parquet read with a pushed
  *     `seq = n` predicate: the 2-seek point read of
  *     offset2/offset.go:20-32 becomes footer + one row-group.
  *   - `query(specs…)` — the QuerySpec algebra lowered to a DataFrame
  *     pipeline (see [[graft.query.QueryBuilder]]).
  *   - `nullAt`/`replace` — copy-on-write rewrite of the one affected
  *     segment (offset2/log.go:91-160 semantics: reads then surface
  *     `ErrNulled` / the replacement value; neighbors keep their seqs).
  *   - `checkConsistency` — manifest-vs-files fsck with recovery, the
  *     analogue of offset2/log.go:217-344.
  *
  * Storage layout under `dir/`:
  * {{{
  *   manifest.json          // atomic commit point (see Manifest)
  *   data/seg-<seq>-<uuid>.parquet
  * }}}
  *
  * Rows have schema `(seq BIGINT, value <T>, nulled BOOLEAN)`; segments
  * are sorted by seq so parquet row-group min/max stats prune both
  * point and range reads.
  */
final class ParquetLog private (
    val spark: SparkSession,
    val dir: String,
    @volatile private var manifest: Manifest
) extends Log {
  import ParquetLog._

  private val io: FileIO = FileIO.forPath(dir)

  // target on-disk bytes per segment file for the small-append merge
  // in [[writeSegments]] — same knob and default as
  // [[TableStore]]'s (`spark.graft.segmentTargetFileBytes`)
  private val segmentTargetFileBytes: Long =
    GraftConf.long(spark, "spark.graft.segmentTargetFileBytes", 32L << 20)

  // staged-bytes ceiling for the DRIVER-SIDE row-group-copy merge
  // (same knob and default as [[TableStore]]'s): under it the
  // small-append fold is a driver-side parquet row-group byte copy —
  // no second Spark job per commit; above it the range-repartition
  // rewrite is worth its scheduling cost and the driver never
  // streams large byte volumes through itself (guide §5)
  private val segmentMergeDriverMaxBytes: Long =
    GraftConf.long(spark, "spark.graft.segmentMergeDriverMaxBytes", 128L << 20)

  // plan-estimate ceiling under which an append is coalesced to one
  // task BEFORE its count and write jobs (same knob and max-node
  // semantics as [[TableStore]]'s small-append task-floor cut): a
  // small batch then pays 1+1 tasks instead of 2×N and stages ONE
  // file (no post-write merge, no per-file footer reads). A small
  // batch already on the driver skips both jobs (the driver path).
  // The LOG's default is 8 MB where the table store's is 1 MB: a log
  // append's post-shuffle work is a per-byte-cheap sort-merge +
  // encode (50 ms single-task at this ceiling), while the table
  // stores commit pump AGGREGATIONS whose serialized compute is the
  // regression the 1 MB default exists to avoid.
  private val smallAppendCoalesceMaxBytes: Long =
    GraftConf.long(spark, "spark.graft.smallAppendCoalesceMaxBytes", 8L << 20)

  private def dataDir: String = FileIO.join(dir, "data")

  def valueType: DataType = DataType.fromJson(manifest.valueSchemaJson)

  /** Current max sequence number; Seqs.SeqEmpty (-1) when empty.
    * Constant-time — read from the manifest, never a table scan
    * (reference: Seq(), offset2/log.go:346-350). */
  def seq: Long = manifest.maxSeq

  /** The committed log as a DataFrame `(seq, value, nulled)`.
    * Batch visibility is manifest-scoped: only committed segments.
    *
    * Served by the `graft-log` DSv2 connector — ONE read path for the
    * API and `spark.read`, so every engine query gets the connector's
    * planning: manifest-level seq pruning, segment packing with
    * row-group-aligned splits, EXACT bound pushdown (no residual
    * re-filter), dense-seq top-N/limit pushdown (`Reverse+Limit` is a
    * planned tail read, not a full-log TakeOrdered), vectorized reads
    * with positional range slicing, and the shuffle-free ordered-drain
    * strategy ([[graft.plans.OrderedLogScan]]). */
  def toDF: DataFrame =
    // the empty/non-empty branch is decided from the ON-DISK manifest,
    // not this handle's snapshot: a handle opened while the log was
    // empty would otherwise return the synthetic empty frame forever,
    // blind to another process's commits — while the connector branch
    // (which re-reads the manifest at plan time) would see them. One
    // tiny JSON read per toDF call, same as the connector's planning.
    if (Manifest.tryLoad(dir).getOrElse(manifest).segments.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        rowSchema
      )
    else
      spark.read.format("graft-log").load(dir)

  /** Append a batch of values (single `value` column) and return the
    * first assigned sequence number.
    *
    * Dense-seq assignment takes one of two paths:
    *   - DRIVER PATH, for a small batch already on the driver (local
    *     relations only, which the optimizer folds to one local table
    *     scan, within the small-append cut
    *     `spark.graft.smallAppendCoalesceMaxBytes` and
    *     `spark.graft.segmentTargetFileBytes`): the rows are stamped
    *     `base + i` on the driver and written as one segment through
    *     Spark's own parquet writer — no Spark job, the in-process
    *     append of offset2/log.go:425-462.
    *   - JOB PATH, for everything else: two jobs over ONE RDD lineage
    *     of the input — count the rows of each partition, then stamp
    *     `base + partitionOffset + i` in the write job. The count job
    *     is the price of dense seqs; both parallelize across the
    *     cluster.
    * Either way only the manifest commit is serialized, and the
    * dense-seq gate verifies the staged files' footers before it.
    */
  def append(values: DataFrame): Long = synchronized {
    appendInternal(values, None)
  }

  /** The last streaming-sink micro-batch committed into this log
    * (None if it was never written by a stream). */
  def streamBatch: Option[Long] = manifest.streamBatch

  /** The streaming query this log's batch mark is bound to. */
  def streamQuery: Option[String] = manifest.streamQuery

  /** Idempotent streaming append: commit `values` together with the
    * micro-batch id in ONE manifest commit. A replayed batch (id <=
    * the committed mark — the restart path of the graft-log
    * writeStream sink) is a no-op, so the sink is exactly-once
    * without any side-channel state.
    *
    * Batch ids are only comparable within ONE query/checkpoint
    * lineage: a NEW streaming query (fresh checkpoint) restarts ids
    * at 0, and treating its early batches as replays would be SILENT
    * DATA LOSS. When `queryId` is given, the log binds to that
    * query's lineage on first streaming write; a mismatched query is
    * refused loudly — call [[releaseStreamBinding]] to intentionally
    * hand the log to a new query. */
  def appendStream(
      batchId: Long,
      values: DataFrame,
      queryId: Option[String] = None
  ): Long = synchronized {
    (manifest.streamQuery, queryId) match {
      case (Some(bound), Some(q)) if bound != q =>
        throw new IllegalStateException(
          s"log $dir is bound to streaming query $bound (its batch-id " +
            s"replay marks are meaningless to query $q). Resume from that " +
            "query's checkpoint, or call releaseStreamBinding() to rebind " +
            "this log to the new query lineage.")
      case _ => ()
    }
    if (manifest.streamBatch.exists(_ >= batchId)) manifest.maxSeq + 1
    else appendInternal(values, Some(batchId), queryId)
  }

  /** Unbind this log from its streaming-query lineage (clears the
    * batch-id replay mark WITH the binding — the mark is meaningless
    * outside its query). The next streaming write binds fresh. */
  def releaseStreamBinding(): Unit = synchronized {
    if (manifest.streamBatch.isDefined || manifest.streamQuery.isDefined)
      commitOrCleanup(
        manifest.copy(version = manifest.version + 1,
          streamBatch = None, streamQuery = None),
        Nil)
  }

  private def appendInternal(
      values: DataFrame,
      batchId: Option[Long],
      queryId: Option[String] = None
  ): Long = {
    val base = manifest.maxSeq + 1
    val vCol = values.columns.head
    val vType = values.schema.head.dataType
    require(
      manifest.segments.isEmpty || vType == valueType,
      s"value type $vType does not match log's $valueType"
    )
    if (manifest.segments.isEmpty) ParquetLog.requireReadable(dir, vType)
    val src0 = values.select(col(vCol).as("value"))
    // tiny-batch cut (see smallAppendCoalesceMaxBytes): a tiny batch
    // whose rows are on the driver takes the driver path; any other
    // is coalesced to one partition before its count and write jobs
    val small = {
      // analyzed-plan MAX-node stats, not optimizedPlan — see the
      // TableStore append gate: an optimizer pass per append is real
      // per-commit cost, and the max-node estimate keeps the cut off
      // any append computed FROM something big
      lazy val est = TableStore.maxPlanEstimate(src0)
      // tiny AND justifying a single target file (a deliberately tiny
      // per-file target means "never fold" — honor it here too)
      segmentTargetFileBytes > 0 && smallAppendCoalesceMaxBytes > 0 &&
        est <= BigInt(smallAppendCoalesceMaxBytes) &&
        est <= BigInt(segmentTargetFileBytes)
    }
    // DRIVER PATH: a small batch that already sits on the driver is
    // stamped and staged here, with no Spark job (see append)
    val driverRows = if (small) ParquetLog.driverResident(src0) else None
    val (segs, acc) = driverRows match {
      case Some(rows) =>
        val stampedSchema = stampedLayout(src0.schema.head)
        val stamped = rows.iterator.zipWithIndex.map { case (row, i) =>
          InternalRow(base + i, row.get(0, vType), false)
        }
        (publishSegments(stageOnDriver(stamped, stampedSchema),
          stampedSchema), rows.length.toLong)
      case None =>
        val (df, n) =
          stampByJob(if (small) src0.coalesce(1) else src0, base, vType)
        (writeSegments(df), n)
    }
    // DENSE-SEQ INTEGRITY GATE (pre-commit, driver-side arithmetic
    // over footer stats publishSegments already read): the job path
    // assumes its write job sees the rows its count job counted, per
    // partition — the assumption rdd.zipWithIndex made, but here it
    // is VERIFIED instead of trusted. If a leaf the write job re-reads
    // changed under it (source re-listed under a concurrent writer,
    // a nondeterministic input), offsets no longer match partition
    // counts and seqs would collide or gap — this refuses the append
    // LOUDLY before the manifest commit, so the positional point-read
    // math and the fsck density check can never be silently
    // corrupted. The driver path's footers pass the same gate: its
    // stamp is checked, not trusted.
    locally {
      val sorted = segs.sortBy(_.minSeq)
      var expect = base
      var total = 0L
      val dense = sorted.forall { s =>
        val ok = s.minSeq == expect && s.rows == s.maxSeq - s.minSeq + 1
        expect = s.maxSeq + 1
        total += s.rows
        ok
      }
      if (!dense || total != acc) {
        segs.foreach(s => io.delete(FileIO.join(dir, s.path)))
        throw new IllegalStateException(
          s"append to $dir produced a non-dense seq range (expected " +
            s"[$base, ${base + acc - 1}], got ${sorted.map(s =>
              s"[${s.minSeq},${s.maxSeq}]x${s.rows}").mkString(" ")}): " +
            "the input's partitioning diverged between the count and " +
            "write passes (nondeterministic source?); nothing was " +
            "committed — retry the append with a deterministic input")
      }
    }
    if (segs.isEmpty && batchId.isEmpty) return base // nothing to commit
    // an empty STREAMING batch still commits: the batch id must
    // advance or a replay after restart could double-apply a later
    // non-empty batch's predecessor
    val newMax =
      if (segs.isEmpty) manifest.maxSeq else segs.map(_.maxSeq).max
    val next = manifest.copy(
      version = manifest.version + 1,
      maxSeq = newMax,
      valueSchemaJson =
        if (manifest.segments.isEmpty) vType.json
        else manifest.valueSchemaJson,
      segments = manifest.segments ++ segs,
      streamBatch = batchId.orElse(manifest.streamBatch),
      streamQuery = queryId.orElse(manifest.streamQuery)
    )
    FaultPoints.reach("log.append.preCommit")
    commitOrCleanup(next, segs)
    base
  }

  /** JOB PATH stamping: `(seq, value, nulled)` rows of `src1` stamped
    * `base …` in its write job, plus the row count its count job saw.
    *
    * Both jobs run over ONE `queryExecution.toRdd` lineage, so the
    * input's plan is finalized once: a shuffle in it (a range
    * exchange's sampled boundaries, an AQE-coalesced aggregate) runs
    * once, and the write job reuses that shuffle output with the
    * partitioning the count job saw — the property zipWithIndex
    * relied on. Two separate query executions do NOT share it: the
    * r20 two-execution form committed 31,198 of 100,000 rows of an
    * orderBy-fed append when their AQE coalescing disagreed. The rows
    * stay in Tungsten (InternalRow, no Row codec round-trip). */
  private def stampByJob(
      src1: DataFrame,
      base: Long,
      vType: DataType
  ): (DataFrame, Long) = {
    val rdd = src1.queryExecution.toRdd
    val counts = rdd
      .mapPartitionsWithIndex((pid, it) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator((pid, n))
      }, preservesPartitioning = true)
      .collect().sortBy(_._1).map(_._2)
    var acc0 = 0L
    val offsets = counts.map { n => val o = acc0; acc0 += n; o }
    val bc = spark.sparkContext.broadcast(offsets)
    val stampedRdd = rdd.mapPartitionsWithIndex({ (pid, it) =>
      var seqNo = base + bc.value(pid)
      it.map { row =>
        // a non-primitive value (struct, string, array, map) may view
        // the scan's reused Unsafe buffer: copy it as it is stamped,
        // so every stamped row stays valid after the iterator
        // advances, whatever its consumer buffers
        val out: InternalRow = InternalRow(
          seqNo, InternalRow.copyValue(row.get(0, vType)), false)
        seqNo += 1
        out
      }
    }, preservesPartitioning = true)
    // the input's own value field: a job-path segment keeps its
    // nullability, exactly as a driver-path segment does
    (org.apache.spark.sql.graftshim.InternalRows.toDF(spark, stampedRdd,
      stampedLayout(src1.schema.head)), acc0)
  }

  /** Commit then publish: the in-memory manifest only advances after
    * the disk commit succeeds, so a stale handle that loses the CAS
    * (ConcurrentWriteException) never serves uncommitted segments; its
    * just-written files are swept instead. */
  private def commitOrCleanup(next: Manifest, fresh: List[Segment]): Unit = {
    try Manifest.commit(dir, next)
    catch {
      case e: Throwable =>
        fresh.foreach(s => io.delete(FileIO.join(dir, s.path)))
        throw e
    }
    manifest = next
  }

  /** Write `(seq,value,nulled)` rows into new segment files under
    * data/, sorted by seq, and return their manifest entries.
    * Per-file seq ranges come from the parquet FOOTERS (driver-side
    * metadata read — the stats the writer already computed), not an
    * extra Spark job over the data. */
  private def writeSegments(df: DataFrame): List[Segment] = {
    val tmp = FileIO.join(dir, s"tmp-${UUID.randomUUID()}")
    df.sortWithinPartitions("seq")
      .write
      .options(SegmentWriteOptions)
      .mode(SaveMode.Overwrite)
      .parquet(tmp)
    publishSegments(tmp, df.schema)
  }

  /** The driver path's staging half: `rows` (already seq-stamped, in
    * seq order, laid out as `schema`) written as ONE parquet file into
    * a fresh `tmp-<uuid>` staging dir, and the dir returned. The file
    * comes from Spark's own parquet output-writer factory, on the
    * driver: the write support, codec, footer metadata
    * (`org.apache.spark.sql.parquet.row.metadata`, writer version),
    * [[SegmentWriteOptions]] and `part-` file name of a write job over
    * the same rows, with no job. */
  private def stageOnDriver(
      rows: Iterator[InternalRow],
      schema: StructType
  ): String = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.internal.SQLConf
    val tmp = FileIO.join(dir, s"tmp-${UUID.randomUUID()}")
    val state = spark.sessionState
    // the writer reads session settings (rebase modes, timestamp
    // type) through SQLConf.get; a task sees the submitting session's
    // conf, so the driver pins the same one
    try SQLConf.withExistingConf(state.conf) {
      val job = Job.getInstance(
        state.newHadoopConfWithOptions(SegmentWriteOptions))
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      val factory = new ParquetFileFormat()
        .prepareWrite(spark, job, SegmentWriteOptions, schema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
      val out = factory.newInstance(
        FileIO.join(tmp, s"part-00000-${UUID.randomUUID()}" +
          factory.getFileExtension(ctx)),
        schema, ctx)
      try rows.foreach(out.write)
      finally out.close()
    } catch {
      case e: Throwable => FsckSweep.deleteRecursively(tmp); throw e
    }
    tmp
  }

  /** The publish half of every segment write: fold the part files
    * staged under `tmp` (laid out as `schema`) when the staged bytes
    * justify fewer files, move them into data/ under their seq-range
    * names, and return their manifest entries. */
  private def publishSegments(tmp: String, schema: StructType): List[Segment] = {
    // Small-append coalescing (the TableStore.writeSegmentFiles
    // discipline): a small batch arriving with N partitions writes N
    // tiny seq-range files, and a log advanced by thousands of small
    // streaming commits pays O(files) listing/footer cost at every
    // plan. When the staged bytes justify fewer files, fold them —
    // repartitionByRange on `seq` keeps every output file a dense
    // contiguous seq range (each range-partition holds exactly the
    // seqs in its bounds), which the positional point-read math and
    // the fsck density check both require.
    val staged0 = io.list(tmp)
      .filter(f => f.name.endsWith(".parquet") && !FileIO.isHidden(f.name))
    // segmentTargetFileBytes <= 0 = merge-free mode (latency-critical
    // logs keep one file per input partition; documented knob — the
    // old code divided by it and crashed)
    val merged =
      if (staged0.length <= 1 || segmentTargetFileBytes <= 0) tmp
      else {
        val sizes = staged0.map(f => f.path -> io.size(f.path)).toMap
        val totalBytes = sizes.valuesIterator.sum
        val target = math.max(1L,
          (totalBytes + segmentTargetFileBytes - 1) / segmentTargetFileBytes)
        if (target >= staged0.length) tmp
        else {
          val tmp2 = FileIO.join(dir, s"tmp-${UUID.randomUUID()}")
          // DRIVER-SIDE row-group copy when the staged bytes are small
          // (the TableStore.writeSegmentFiles discipline, extended to
          // the log): no decode, no re-encode, and no second Spark job
          // per micro-batch commit. The log's extra obligation is the
          // DENSE-SEQ layout — every merged file must hold a dense,
          // seq-sorted range — so inputs are ordered by their FOOTER
          // seq stats and the copy only proceeds when they tile
          // contiguously (each staged file is one partition's dense
          // range, so they always do for an append; a rewrite whose
          // scan split order interleaved falls back to the range job).
          // Page-level offset indexes are dropped by the row-group
          // copy; DirectRead point reads fall back to decoding the ONE
          // containing row group (staged row groups are micro-batch-
          // sized), and the next compact() restores the indexes.
          var footerErr = false
          val stats = staged0.flatMap(f =>
            try ParquetLog.seqStatsFromFooter(io.inputFile(f.path))
              .map(st => (f, st._1, st._2, st._3))
            catch { case _: Exception => footerErr = true; None })
          // zero-row staged files (empty input partitions) carry no
          // rows and are simply left out of the copy; an unreadable
          // footer falls back to the range job instead
          val ordered = stats.sortBy(_._2)
          val contiguous = !footerErr && ordered.nonEmpty &&
            ordered.sliding(2).forall {
              case Seq((_, _, hi, _), (_, lo2, _, _)) => lo2 == hi + 1
              case _ => true
            } &&
            ordered.forall { case (_, lo, hi, n) => n == hi - lo + 1 }
          if (totalBytes <= segmentMergeDriverMaxBytes && contiguous) {
            io.mkdirs(tmp2)
            ParquetConcat
              .packGroups(ordered.map(_._1), sizes, target.toInt)
              .zipWithIndex.foreach { case (group, i) =>
                ParquetConcat.concat(io, group.map(_.path),
                  FileIO.join(tmp2, f"part-$i%05d.parquet"))
              }
          } else
            spark.read.schema(schema).parquet(tmp)
              .repartitionByRange(target.toInt, col("seq"))
              .sortWithinPartitions("seq")
              .write
              .options(SegmentWriteOptions)
              .mode(SaveMode.Overwrite)
              .parquet(tmp2)
          FsckSweep.deleteRecursively(tmp)
          tmp2
        }
      }
    FaultPoints.reach("log.segments.tmpWritten")
    val files = io.list(merged)
      .filter(f => f.name.endsWith(".parquet") && !FileIO.isHidden(f.name))
    io.mkdirs(dataDir)
    val segs = files.flatMap { src =>
      ParquetLog.seqStatsFromFooter(io.inputFile(src.path)).map {
        case (minSeq, maxSeq, rows) =>
          val name = f"seg-$minSeq%012d-${UUID.randomUUID().toString.take(8)}.parquet"
          // on-disk size recorded at commit so planning never stats
          // the file again (statistics / packing / admission)
          val fbytes = try Some(io.size(src.path)) catch {
            case _: Exception => None
          }
          FaultPoints.reach("log.segments.beforeMove")
          io.rename(src.path, FileIO.join(dataDir, name))
          FaultPoints.reach("log.segments.moved")
          Segment(s"data/$name", minSeq, maxSeq, rows, fbytes)
      } // zero-row part files are skipped (and cleaned with tmp)
    }
    FaultPoints.reach("log.segments.allMoved")
    FsckSweep.deleteRecursively(merged)
    segs.sortBy(_.minSeq)
  }

  /** Point read. Throws ErrOutOfBounds past the end, ErrNulled for
    * redacted entries (reference: offset2/log.go:356-371).
    *
    * Served DRIVER-SIDE: the manifest maps seq → one segment file, and
    * [[DirectRead]] reads that one row with a parquet record filter —
    * footer + one page, no Spark job (the reference's 2-seek read,
    * offset2/offset.go:20-32, where the scheduler round-trip would
    * otherwise dominate a 1-row lookup ~100:1). Falls back to a Spark
    * read only for value types DirectRead doesn't convert. */
  def get(seqNo: Long): Row = {
    if (seqNo < 0 || seqNo > manifest.maxSeq)
      throw GraftErrors.ErrOutOfBounds(seqNo)
    val seg = manifest.segments
      .find(s => s.minSeq <= seqNo && seqNo <= s.maxSeq)
      .getOrElse(throw GraftErrors.ErrOutOfBounds(seqNo))
    val r = DirectRead
      .readRow(FileIO.join(dir, seg.path), rowSchema, seqNo, seg.minSeq)
      .getOrElse {
        val rows = spark.read
          .schema(rowSchema)
          .parquet(FileIO.join(dir, seg.path))
          .where(col("seq") === seqNo)
          .collect()
        if (rows.isEmpty) throw GraftErrors.ErrOutOfBounds(seqNo)
        rows.head
      }
    if (r.getBoolean(2)) throw GraftErrors.ErrNulled(seqNo)
    r
  }

  /** Batched point reads: one Spark job for any number of seqs, with
    * the scan restricted to just the manifest segments that can
    * contain them (file-level pruning before Spark even plans).
    * Returns `(seq, value, nulled)` rows; absent seqs are simply not
    * in the result (callers needing OOB errors use [[get]]).
    * This is the Spark-idiomatic complement to the reference's
    * one-at-a-time `Get` — at any scale, k lookups are one job.
    *
    * The predicate is TIERED by k (the IN-literal ceiling probe in
    * BASELINE.md: a literal `isin` plan costs O(k) to build and
    * degrades to a useless min/max range past parquet's
    * inFilterThreshold):
    *   - dense seqs usually coalesce point sets into few contiguous
    *     RUNS — few enough runs become OR-of-ranges, each pushable to
    *     row-group stats (a "read seqs 1M..1M+10k" block lookup plans
    *     O(runs), not O(k));
    *   - otherwise a small scattered set stays a literal `isin`;
    *   - a large scattered set joins a broadcast seq frame (constant
    *     plan cost, hashed probe).
    */
  def getMany(seqNos: Seq[Long]): Array[Row] = {
    if (seqNos.isEmpty) return Array.empty
    val wanted = seqNos.distinct.sorted
    val segs = manifest.segments.filter(s =>
      wanted.exists(n => s.minSeq <= n && n <= s.maxSeq)
    )
    if (segs.isEmpty) return Array.empty
    // small batches skip Spark entirely: k driver-direct page reads
    // (the reference's per-Get cost, offset2/log.go:352-367) beat a
    // job's fixed overhead up to well past this size; any miss
    // (unsupported value type, file racing a rewrite) falls back to
    // the one-job path below
    if (wanted.length <= MaxDirectReads) {
      val direct = wanted.flatMap { n =>
        manifest.segments.find(s => s.minSeq <= n && n <= s.maxSeq) match {
          case None => Some(None) // absent seq: skip, not a miss
          case Some(seg) =>
            DirectRead.readRow(
              FileIO.join(dir, seg.path), rowSchema, n, seg.minSeq) match {
              case Some(r) => Some(Some(r))
              case None => None // miss -> whole batch via Spark
            }
        }
      }
      if (direct.length == wanted.length)
        return direct.flatten.toArray
    }
    val base = spark.read
      .schema(rowSchema)
      .parquet(segs.map(s => FileIO.join(dir, s.path)): _*)
    // coalesce sorted seqs into inclusive [lo, hi] runs — O(k), run
    // tracked in locals (an indexed-update loop over a linked buffer
    // would be O(k²) on a large scattered set)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var runStart = wanted.head
    var runEnd = wanted.head
    wanted.tail.foreach { n =>
      if (n == runEnd + 1) runEnd = n
      else { runs += ((runStart, runEnd)); runStart = n; runEnd = n }
    }
    runs += ((runStart, runEnd))
    val filtered =
      if (runs.length <= MaxRangePredicates)
        base.where(runs.map { case (l, h) =>
          col("seq") >= l && col("seq") <= h
        }.reduce(_ || _))
      else if (wanted.length <= MaxInLiteralSeqs)
        base.where(col("seq").isin(wanted: _*))
      else {
        import spark.implicits._
        base.join(
          org.apache.spark.sql.functions
            .broadcast(wanted.toDF("seq")),
          Seq("seq"), "left_semi")
      }
    filtered.collect()
  }

  /** Streaming tail of the log (reference: Live(true) queries,
    * offset2/qry.go:124-158), on the SEQ-offset connector
    * ([[graft.sources.GraftLogSource]]): each micro-batch delivers
    * exactly the seqs `(start, end]` — contiguous, in order, exactly
    * once, immune to rewrite re-discovery (null/replace/compact emit
    * new FILES over old seqs; seq offsets don't move). Catch-up over
    * a large backlog is paced (64 segments per trigger). Reverse+Live
    * is rejected by plan validation. */
  def liveQuery(specs: QuerySpec*): DataFrame =
    liveQueryWith(Map.empty, specs: _*)

  /** [[liveQuery]] with explicit source options — admission control
    * (`maxSeqsPerTrigger` / `maxBytesPerTrigger` /
    * `maxSegmentsPerTrigger`) for consumers that need a different
    * catch-up grain than the 64-segment default. */
  def liveQueryWith(
      options: Map[String, String],
      specs: QuerySpec*
  ): DataFrame = {
    val plan = QueryPlan.of(specs: _*)
    require(plan.live, "liveQuery requires Live(true)")
    var reader = spark.readStream
      .format("graft-log")
      .option("maxSegmentsPerTrigger", "64")
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val stream = reader.load(dir)
    graft.query.QueryBuilder.buildStreaming(stream, plan)
  }

  /** Redact an entry in place: value → null, nulled → true. Idempotent.
    * Copy-on-write of the single containing segment; neighbors keep
    * their seqs (reference: Null, offset2/log.go:91-128). */
  def nullAt(seqNo: Long): Unit =
    rewriteSegmentOf(seqNo) { df =>
      df.withColumn(
        "value",
        when(col("seq") === seqNo, lit(null).cast(valueType))
          .otherwise(col("value"))
      ).withColumn(
        "nulled",
        when(col("seq") === seqNo, lit(true)).otherwise(col("nulled"))
      )
    }

  /** Overwrite an entry's value in place (reference: Replace,
    * offset2/log.go:132-160 — parquet removes its same-size
    * restriction). The replacement row keeps its seq and clears any
    * nulled flag, matching the reference (replace after null yields the
    * new value). */
  def replace(seqNo: Long, newValue: Column): Unit =
    rewriteSegmentOf(seqNo) { df =>
      df.withColumn(
        "value",
        when(col("seq") === seqNo, newValue.cast(valueType))
          .otherwise(col("value"))
      ).withColumn(
        "nulled",
        when(col("seq") === seqNo, lit(false)).otherwise(col("nulled"))
      )
    }

  private def rewriteSegmentOf(seqNo: Long)(f: DataFrame => DataFrame): Unit =
    synchronized {
      if (seqNo < 0 || seqNo > manifest.maxSeq)
        throw GraftErrors.ErrOutOfBounds(seqNo)
      val seg = manifest.segments
        .find(s => s.minSeq <= seqNo && seqNo <= s.maxSeq)
        .getOrElse(throw GraftErrors.ErrOutOfBounds(seqNo))
      val df =
        spark.read.schema(rowSchema).parquet(FileIO.join(dir, seg.path))
      val rewritten = f(df)
      val newSegs = writeSegments(rewritten)
      val next = manifest.copy(
        version = manifest.version + 1,
        segments =
          (manifest.segments.filterNot(_ == seg) ++ newSegs).sortBy(_.minSeq)
      )
      FaultPoints.reach("log.rewrite.preCommit")
      commitOrCleanup(next, newSegs)
      FaultPoints.reach("log.rewrite.preDelete")
      DirectRead.invalidate(FileIO.join(dir, seg.path))
      io.delete(FileIO.join(dir, seg.path))
    }

  /** Merge small adjacent segments into larger ones (copy-on-write;
    * seqs untouched). Many tiny segments accumulate from fine-grained
    * appends and degrade scan planning — compaction restores
    * O(data/targetRows) file counts. Runs as one rewrite job over the
    * affected segments only. */
  def compact(targetRows: Long = 1000000L): Unit = synchronized {
    val sorted = manifest.segments.sortBy(_.minSeq)
    // group adjacent segments until each group reaches targetRows
    val groups = scala.collection.mutable.ListBuffer.empty[List[Segment]]
    var cur = scala.collection.mutable.ListBuffer.empty[Segment]
    var curRows = 0L
    sorted.foreach { s =>
      if (curRows >= targetRows) {
        groups += cur.toList; cur = scala.collection.mutable.ListBuffer.empty
        curRows = 0L
      }
      cur += s; curRows += s.rows
    }
    if (cur.nonEmpty) groups += cur.toList
    // nothing to do if no group merges more than one file
    if (!groups.exists(_.length > 1)) return
    val newSegs = groups.toList.flatMap { g =>
      if (g.length == 1) g
      else {
        val df = spark.read
          .schema(rowSchema)
          .parquet(g.map(s => FileIO.join(dir, s.path)): _*)
          .repartitionByRange(1, col("seq"))
        writeSegments(df)
      }
    }
    val old = manifest.segments
    val merged = newSegs.filterNot(s => old.contains(s))
    val next = manifest.copy(
      version = manifest.version + 1,
      segments = newSegs.sortBy(_.minSeq)
    )
    FaultPoints.reach("log.compact.preCommit")
    commitOrCleanup(next, merged)
    FaultPoints.reach("log.compact.preDelete")
    val kept = newSegs.map(_.path).toSet
    old.filterNot(s => kept.contains(s.path))
      .foreach { s =>
        val p = FileIO.join(dir, s.path)
        DirectRead.invalidate(p)
        io.delete(p)
      }
  }

  /** Fsck: every manifest segment exists; seq ranges are dense and
    * non-overlapping from 0..maxSeq. Returns the list of problems
    * (empty = consistent).
    *
    * With `repair` set, recovery mirrors the reference's
    * journal-truncate path (offset2/log.go:256-277 — a journal that ran
    * ahead of the data is truncated back to what survives):
    *
    *   - a manifest referencing missing/gapped segments is REBUILT to
    *     the longest dense prefix of surviving files (committed
    *     atomically; segments past the first hole are dropped and their
    *     surviving files deleted, since a dense log cannot serve past a
    *     gap), after which the log reopens and appends normally;
    *   - orphan data files (crashed append) are swept.
    */
  override def checkConsistency(
      repair: Boolean,
      minAgeMs: Long
  ): List[String] = synchronized {
    val problems = scala.collection.mutable.ListBuffer.empty[String]
    // age-gate + listing + root-litter sweep live in FsckSweep (one
    // copy shared with TableStore so the two stores' crash-recovery
    // disciplines cannot silently diverge)

    // orphan-ness and gap checks are judged against the ON-DISK
    // manifest, never this handle's possibly-stale view: another
    // process may have committed since this handle's last write, and
    // sweeping against the stale in-memory view would classify THEIR
    // committed segments as orphans — repair would destroy real data
    // (the age gate alone cannot save a commit older than minAgeMs).
    // If the on-disk manifest cannot be loaded (torn read, transient
    // FS), repair is REFUSED outright; the in-memory fallback is fine
    // for reporting only. Same discipline as
    // TableStore.checkConsistency.
    val onDisk = Manifest.tryLoad(dir)
    val committed = onDisk.getOrElse(manifest)
    val doRepair = repair && onDisk.isDefined
    if (repair && onDisk.isEmpty)
      problems += "manifest unreadable: repair refused, report-only sweep"
    committed.segments.foreach { s =>
      if (!io.exists(FileIO.join(dir, s.path)))
        problems += s"missing segment file: ${s.path}"
    }
    val sorted = committed.segments.sortBy(_.minSeq)
    var expect = 0L
    sorted.foreach { s =>
      if (s.minSeq != expect)
        problems += s"seq gap/overlap at ${s.path}: expected $expect, found ${s.minSeq}"
      expect = s.maxSeq + 1
    }
    if (committed.maxSeq != expect - 1 && !(committed.maxSeq == Seqs.SeqEmpty && sorted.isEmpty))
      problems += s"manifest maxSeq ${committed.maxSeq} != segment extent ${expect - 1}"
    // the view the orphan sweep below trusts: on-disk, possibly
    // repaired by the truncation just committed
    var trusted = committed
    if (doRepair && problems.nonEmpty) {
      // truncate to the longest dense prefix of segments whose files
      // survive; everything after the first hole is unreachable in a
      // dense log and gets dropped
      var exp = 0L
      val prefix = sorted.takeWhile { s =>
        val ok = s.minSeq == exp && io.exists(FileIO.join(dir, s.path))
        if (ok) exp = s.maxSeq + 1
        ok
      }
      val dropped = sorted.drop(prefix.length)
      if (dropped.nonEmpty || committed.maxSeq != exp - 1) {
        val next = committed.copy(
          version = committed.version + 1,
          maxSeq = prefix.lastOption.map(_.maxSeq).getOrElse(Seqs.SeqEmpty),
          segments = prefix
        )
        // CAS against the disk version: a commit racing this repair
        // surfaces as ConcurrentWriteException, never a lost update
        Manifest.commit(dir, next)
        manifest = next
        trusted = next
        dropped.foreach { s =>
          val dp = FileIO.join(dir, s.path)
          DirectRead.invalidate(dp)
          io.delete(dp)
        }
        problems += s"repaired: truncated to maxSeq ${next.maxSeq}, dropped ${dropped.length} segment(s)"
      }
    } else if (onDisk.isDefined && committed.version > manifest.version) {
      // adopt a newer committed view even without repair so this
      // handle's reads reflect what the sweep just validated
      manifest = committed
    }
    val known = trusted.segments.map(_.path).toSet
    FsckSweep.ls(dataDir).foreach { e =>
      val rel = s"data/${e.name}"
      if (!known.contains(rel)) {
        problems += s"orphan data file: $rel"
        if (doRepair && FsckSweep.oldEnough(e.mtimeMs, minAgeMs))
          io.delete(e.path)
      }
    }
    // crash litter OUTSIDE data/ (shared sweep; see FsckSweep). The
    // fsck contract is "clean after repair" under the crash model
    // (minAgeMs = 0, previous writer known dead); under the default
    // gate young litter is reported but deliberately left for a
    // possibly-live writer.
    FsckSweep.sweepRootLitter(dir, doRepair, minAgeMs, problems += _,
      committedVersion = trusted.version)
    problems.toList
  }
}

object ParquetLog {

  /** [[ParquetLog.getMany]] batches up to this size are served by
    * driver-direct page reads (one ~ms read per seq, no Spark job) —
    * the crossover against a job's fixed overhead sits far above
    * this; kept conservative so a large batch's parallelism isn't
    * forfeited. */
  val MaxDirectReads: Int = 128

  /** The `(seq, value, nulled)` layout of stamped rows around `value`. */
  private def stampedLayout(value: StructField): StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    value,
    StructField("nulled", BooleanType, nullable = false)))

  /** Parquet writer options of every segment write, job or driver,
    * log or [[TableStore]]: small pages (row-count-bounded) make the
    * column and offset indexes precise — a point read decodes ONE
    * ~1k-row page instead of a whole 20k-row default page, and a
    * [[SliceRead]] prunes a key's rows to the pages that hold it. Both
    * stores are point-read-optimized and pay a negligible scan/size
    * cost for it. */
  private[storage] val SegmentWriteOptions: Map[String, String] =
    Map("parquet.page.row.count.limit" -> "1024")

  /** The rows of `src` when it is already resident on the driver:
    * every leaf of its analyzed plan is a (non-streaming) local
    * relation, and the optimizer folded the plan to a bare local table
    * scan, whose rows come back with no Spark job. Those rows were
    * evaluated once, as the optimizer folded them (a `limit` or a
    * seeded `rand` over a local relation included), so stamping them
    * needs no other check on the plan. None for anything else (file
    * scans, RDDs, shuffles, streams, or a plan the optimizer could not
    * fold), which takes the job path. */
  private def driverResident(src: DataFrame): Option[Array[InternalRow]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LocalTableScanExec
    val local = src.queryExecution.analyzed.collectLeaves().forall {
      case l: LocalRelation => !l.isStreaming
      case _ => false
    }
    if (!local) None
    else src.queryExecution.executedPlan match {
      case scan: LocalTableScanExec => Some(scan.executeCollect())
      case _ => None
    }
  }

  /** [[ParquetLog.getMany]] tiering (see BASELINE.md's IN-literal
    * ceiling probe): up to this many coalesced seq RUNS, the filter is
    * an OR of range predicates (each pushable to parquet row-group
    * stats — the best shape for block lookups over dense seqs). */
  val MaxRangePredicates: Int = 64

  /** Scattered sets up to this size stay a literal `isin` (the probe's
    * tie point with the broadcast join); larger sets broadcast-semi-
    * join a seq frame instead of building an O(k) literal plan. */
  val MaxInLiteralSeqs: Int = 1000

  /** A log holds only value types its readers convert
    * ([[DirectRead.supported]]): an interval, variant or UDT value
    * would append fine and then fail every read, so `open` and the
    * first append refuse it up front. */
  private def requireReadable(dir: String, valueType: DataType): Unit =
    DirectRead.refused(valueType).foreach { t =>
      throw new IllegalArgumentException(
        s"log $dir cannot hold values of type ${valueType.sql}: no log " +
          s"reader converts ${t.sql}")
    }

  /** Open an existing log, or create an empty one (value type fixed on
    * first append; `valueType` seeds the schema for an empty log so
    * reads/streams work before any data arrives). A `valueType` no
    * reader converts is refused. */
  def open(
      spark: SparkSession,
      dir: String,
      valueType: DataType = StringType
  ): ParquetLog = {
    requireReadable(dir, valueType)
    // session contract (like Tables.load's UTC timezone): opening a
    // log installs the engine's ordered-drain planner strategy —
    // idempotent, additive, a pure physical-plan optimization
    graft.plans.OrderedLogScan.install(spark)
    // data/ exists from open so live subscriptions (liveQuery/changes)
    // can start on an empty log, matching the reference where the
    // Changes observable is available before the first append
    FileIO.forPath(dir).mkdirs(FileIO.join(dir, "data"))
    val m = Manifest
      .load(dir)
      .getOrElse {
        val fresh =
          Manifest(0L, Seqs.SeqEmpty, valueType.json, Nil)
        Manifest.commit(dir, fresh)
        fresh
      }
    new ParquetLog(spark, dir, m)
  }


  /** (min seq, max seq, row count) of one segment file, read from its
    * parquet footer — driver-side, no executor involvement. Segments
    * are seq-sorted, so the column min/max statistics are exact.
    * None for zero-row files. */
  private[storage] def seqStatsFromFooter(
      inputFile: org.apache.parquet.io.InputFile): Option[(Long, Long, Long)] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inputFile)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      if (blocks.isEmpty) return None
      var minSeq = Long.MaxValue
      var maxSeq = Long.MinValue
      var rows = 0L
      blocks.foreach { b =>
        rows += b.getRowCount
        val seqCol = b.getColumns.asScala
          .find(_.getPath.toDotString == "seq")
          .getOrElse(throw new IllegalStateException(s"no seq column in $inputFile"))
        val stats = seqCol.getStatistics
        require(
          stats != null && stats.hasNonNullValue,
          s"missing seq statistics in $inputFile"
        )
        minSeq = math.min(
          minSeq,
          stats.genericGetMin.asInstanceOf[java.lang.Long].longValue()
        )
        maxSeq = math.max(
          maxSeq,
          stats.genericGetMax.asInstanceOf[java.lang.Long].longValue()
        )
      }
      Some((minSeq, maxSeq, rows))
    } finally reader.close()
  }
}
