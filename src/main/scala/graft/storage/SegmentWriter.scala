package graft.storage

import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.core.GraftConf

/** The one segment write path of the two manifest stores,
  * [[ParquetLog]] and [[TableStore]] (the analogue of the reference's
  * single `persist.Saver` write path, internal/persist/interface.go):
  *
  *   1. stage: rows land as parquet part files in a fresh `tmp-<uuid>`
  *      dir under the store — by a write job ([[write]]) or, for a
  *      batch already on the driver, by Spark's own parquet writer on
  *      the driver ([[writeOnDriver]]);
  *   2. fold: a many-file stage whose bytes justify fewer files is
  *      folded to ⌈bytes / `segmentTargetFileBytes`⌉ files — a
  *      driver-side row-group copy ([[ParquetConcat]]) under
  *      `segmentMergeDriverMaxBytes`, else a Spark job;
  *   3. publish: each file's footer gives its rows (and the layout its
  *      entry range), its size is recorded, and it is renamed into
  *      `data/` — fault points `<faults>.segments.*` sit between the
  *      steps;
  *   4. [[commit]] the manifest, or [[drop]] what was published.
  *
  * The stores differ only in the data they pass: the fault-point
  * prefix, the small-append cut's default, and the
  * [[SegmentWriter.Layout]] of each write. The three `spark.graft.*`
  * writer keys are read once, when the store opens. */
private[storage] final class SegmentWriter(
    spark: SparkSession,
    dir: String,
    faults: String,
    smallAppendDefault: Long
) {
  import SegmentWriter._

  private val io: FileIO = FileIO.forPath(dir)
  private val dataDir: String = FileIO.join(dir, "data")

  // target on-disk bytes per folded segment file: a batch arriving
  // with N partitions writes N files whatever its size, and a store
  // advanced by thousands of small commits pays O(files) listing and
  // footer cost at every plan. <= 0 = merge-free mode (one file per
  // staged part, and no small-append cut)
  private val targetFileBytes: Long =
    GraftConf.long(spark, "spark.graft.segmentTargetFileBytes", 32L << 20)

  // staged-bytes ceiling for the DRIVER-SIDE row-group-copy fold:
  // under it the fold runs no second Spark job per commit; above it
  // the fold job is worth its scheduling cost and the driver never
  // streams large byte volumes through itself
  private val driverFoldMaxBytes: Long =
    GraftConf.long(spark, "spark.graft.segmentMergeDriverMaxBytes", 128L << 20)

  // plan-estimate ceiling of the small-append cut ([[small]]); its
  // default is the store's (see the companion's two defaults)
  private val smallAppendMaxBytes: Long =
    GraftConf.long(spark, "spark.graft.smallAppendCoalesceMaxBytes",
      smallAppendDefault)

  /** The SMALL-APPEND CUT: whether `df` is tiny enough to write as ONE
    * task (a coalesced write job, or the driver path when its rows are
    * already on the driver). A micro-batch arriving with N partitions
    * would otherwise schedule N tasks whose N tiny files the fold
    * merges anyway. Judged by [[maxPlanEstimate]], so an append
    * computed FROM something big (a pump's aggregation over a big
    * scan) keeps its parallelism; a batch must also justify a single
    * target file (a deliberately tiny target means "never fold"). */
  def small(df: DataFrame): Boolean =
    targetFileBytes > 0 && smallAppendMaxBytes > 0 && {
      val est = maxPlanEstimate(df)
      est <= BigInt(smallAppendMaxBytes) && est <= BigInt(targetFileBytes)
    }

  /** Stage `df` with one write job (each partition sorted by the
    * layout's `sortWithin`), fold and publish it; returns the new
    * files' manifest entries, not yet committed. */
  def write(df: DataFrame, layout: Layout): List[Segment] = {
    val tmp = stagingDir()
    sorted(df, layout).write.options(SegmentWriteOptions)
      .mode(SaveMode.Overwrite).parquet(tmp)
    publish(tmp, df.schema, layout)
  }

  /** [[write]] for `rows` already on the driver, in layout order and
    * laid out as `schema`: staged as ONE file with no Spark job. */
  def writeOnDriver(rows: Iterator[InternalRow], schema: StructType,
      layout: Layout): List[Segment] =
    publish(stageOnDriver(rows, schema), schema, layout)

  /** Commit `next` and return it. On a commit failure (a stale handle's
    * ConcurrentWriteException, an I/O error) the `fresh` files are
    * dropped first, so a failed commit leaves no litter and the store
    * keeps its last COMMITTED manifest. */
  def commit(next: Manifest, fresh: Seq[Segment]): Manifest = {
    try Manifest.commit(dir, next)
    catch {
      case e: Throwable =>
        fresh.foreach(s => drop(FileIO.join(dir, s.path)))
        throw e
    }
    next
  }

  /** Delete a segment file, first dropping its shared open reader
    * ([[DirectRead.invalidate]]) so the LRU neither pins the dead
    * file's disk space nor fills with readers no manifest lists. */
  def drop(path: String): Unit = {
    DirectRead.invalidate(path)
    io.delete(path)
  }

  private def stagingDir(): String =
    FileIO.join(dir, s"tmp-${UUID.randomUUID()}")

  private def parts(staging: String): List[FileIO.Entry] =
    io.list(staging)
      .filter(f => f.name.endsWith(".parquet") && !FileIO.isHidden(f.name))

  /** The [[Footer]] of the staged `file` under `layout`. A footer that
    * cannot be read, or that the layout refuses, fails the write: the
    * staging dir is deleted and nothing is published. */
  private def footer(file: String, staging: String, layout: Layout): Footer =
    try {
      val r = ParquetFileReader.open(io.inputFile(file))
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        Footer(layout.range(blocks), blocks.map(_.getRowCount).sum)
      } finally r.close()
    } catch {
      case e: Exception =>
        FsckSweep.deleteRecursively(staging)
        throw new IllegalStateException(
          s"staged segment file $file has an unreadable footer; nothing " +
            s"was published to $dir", e)
    }

  /** The driver path's staging half: `rows` written as ONE parquet file
    * into a fresh staging dir, which is returned. The file comes from
    * Spark's own parquet output-writer factory, on the driver: the
    * write support, codec, footer metadata
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
    val tmp = stagingDir()
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

  /** Fold the part files staged under `tmp` (laid out as `schema`) when
    * their bytes justify fewer files, and return the dir that holds
    * the files to publish. The row-group copy drops page-level offset
    * indexes; DirectRead point reads then decode the ONE containing
    * (micro-batch-sized) row group, and a later rewrite restores them. */
  private def fold(tmp: String, schema: StructType, layout: Layout): String = {
    val staged = parts(tmp)
    if (staged.length <= 1 || targetFileBytes <= 0) return tmp
    val sizes = staged.map(f => f.path -> io.size(f.path)).toMap
    val totalBytes = sizes.valuesIterator.sum
    val target = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes)
    if (target >= staged.length) return tmp
    val out = stagingDir()
    val copyOrder =
      if (totalBytes <= driverFoldMaxBytes)
        layout.copyOrder(staged, f => footer(f.path, tmp, layout))
      else None
    copyOrder match {
      case Some(ordered) =>
        io.mkdirs(out)
        ParquetConcat.packGroups(ordered, sizes, target.toInt)
          .zipWithIndex.foreach { case (group, i) =>
            ParquetConcat.concat(io, group.map(_.path),
              FileIO.join(out, f"part-$i%05d.parquet"))
          }
      case None =>
        sorted(layout.regroup(spark.read.schema(schema).parquet(tmp),
          target.toInt), layout)
          .write.options(SegmentWriteOptions).mode(SaveMode.Overwrite)
          .parquet(out)
    }
    FsckSweep.deleteRecursively(tmp)
    out
  }

  /** Fold, then move every file to publish into data/ under a
    * `seg-<lo>-<uuid8>` name and return its manifest entry: rows from
    * its footer, range from the layout, bytes from its size (recorded
    * at commit so planning never stats the file again). Every footer
    * is read before the first move. */
  private def publish(tmp: String, schema: StructType,
      layout: Layout): List[Segment] = {
    val staging = fold(tmp, schema, layout)
    FaultPoints.reach(s"$faults.segments.tmpWritten")
    val entries = parts(staging).flatMap { f =>
      val ft = footer(f.path, staging, layout)
      ft.range.map((f, _, ft.rows))
    }
    io.mkdirs(dataDir)
    val segs = entries.map { case (f, (lo, hi), rows) =>
      val name = f"seg-$lo%012d-${UUID.randomUUID().toString.take(8)}.parquet"
      val bytes = try Some(io.size(f.path)) catch {
        case _: Exception => None
      }
      FaultPoints.reach(s"$faults.segments.beforeMove")
      io.rename(f.path, FileIO.join(dataDir, name))
      FaultPoints.reach(s"$faults.segments.moved")
      Segment(s"data/$name", lo, hi, rows, bytes)
    }
    FaultPoints.reach(s"$faults.segments.allMoved")
    FsckSweep.deleteRecursively(staging)
    segs.sortBy(_.minSeq)
  }
}

private[storage] object SegmentWriter {

  /** The small-append cut's default for a log: a log append's
    * post-shuffle work is a per-byte-cheap sort-merge and encode
    * (~50 ms single-task at this ceiling). */
  val LogSmallAppendMaxBytes: Long = 8L << 20

  /** The small-append cut's default for a table store: the stores
    * commit pump AGGREGATIONS, whose serialized post-shuffle compute
    * an 8 MB cut turned into a 40-100% regression on those builds;
    * 1 MB of estimate is a few thousand rows, the micro-commit shape. */
  val TableSmallAppendMaxBytes: Long = 1L << 20

  /** Parquet writer options of every segment write, job or driver:
    * small pages (row-count-bounded) make the column and offset
    * indexes precise — a point read decodes ONE ~1k-row page instead
    * of a whole 20k-row default page, and a [[SliceRead]] prunes a
    * key's rows to the pages that hold it. */
  val SegmentWriteOptions: Map[String, String] =
    Map("parquet.page.row.count.limit" -> "1024")

  private def sorted(df: DataFrame, layout: Layout): DataFrame =
    if (layout.sortWithin.isEmpty) df
    else df.sortWithinPartitions(layout.sortWithin.map(col): _*)

  /** Size estimate for the small-append cut: the MAX analyzed-plan node
    * estimate, so the cut only fires when everything the write stage
    * would serialize — scans, aggregate inputs, join sides — is itself
    * tiny. The analyzed plan is already materialized; forcing the
    * optimizer here would run a full rule pass per append (measured
    * +60% on kvindex_build), and the coarser estimate only errs toward
    * not narrowing. */
  def maxPlanEstimate(df: DataFrame): BigInt = {
    var m = BigInt(0)
    df.queryExecution.analyzed.foreach { p =>
      val s = p.stats.sizeInBytes
      if (s > m) m = s
    }
    m
  }

  /** What a staged file's footer says under a [[Layout]]: its
    * manifest range (None: left out of the publish) and row count. */
  final case class Footer(range: Option[(Long, Long)], rows: Long)

  /** How a store lays out its segment files: the sort inside each
    * file, the manifest range of a published file, and how staged
    * files fold. */
  sealed trait Layout {

    /** Columns sorting the rows of each staged file. */
    def sortWithin: Seq[String]

    /** The `[lo, hi]` manifest range of a file with footer row groups
      * `blocks`; None leaves the file out of the publish. */
    def range(blocks: Seq[BlockMetaData]): Option[(Long, Long)]

    /** The `staged` files in row-group-copy order (`footer` reads one
      * file's footer), or None when they cannot be copied on the driver
      * and the fold job runs instead. */
    def copyOrder(staged: List[FileIO.Entry],
        footer: FileIO.Entry => Footer): Option[List[FileIO.Entry]]

    /** The fold job's partitioning of the `staged` rows into `target`
      * files, each then sorted by `sortWithin` again. */
    def regroup(staged: DataFrame, target: Int): DataFrame
  }

  /** A log's layout: `(seq, value, nulled)` rows sorted by `seq`, each
    * file one dense, contiguous seq range, its entry range read from
    * the footer's `seq` statistics. A zero-row file is left out. */
  case object DenseSeq extends Layout {
    val sortWithin: Seq[String] = Seq("seq")

    def range(blocks: Seq[BlockMetaData]): Option[(Long, Long)] =
      if (blocks.isEmpty) None
      else {
        val stats = blocks.map { b =>
          val s = b.getColumns.asScala.find(_.getPath.toDotString == "seq")
            .getOrElse(throw new IllegalStateException("no seq column"))
            .getStatistics
          require(s != null && s.hasNonNullValue, "missing seq statistics")
          (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        }
        Some((stats.map(_._1).min, stats.map(_._2).max))
      }

    /** Ordered by footer seq range, and only when the occupied files
      * TILE: each dense, each starting where the previous ended (every
      * staged file of an append is one partition's dense range, so
      * they do; a rewrite whose scan split order interleaved falls
      * back to the range job). Zero-row files are left out. */
    def copyOrder(staged: List[FileIO.Entry],
        footer: FileIO.Entry => Footer): Option[List[FileIO.Entry]] = {
      val ordered = staged.flatMap { f =>
        val ft = footer(f)
        ft.range.map { case (lo, hi) => (f, lo, hi, ft.rows) }
      }.sortBy(_._2)
      val tiles = ordered.nonEmpty &&
        ordered.forall { case (_, lo, hi, n) => n == hi - lo + 1 } &&
        ordered.sliding(2).forall {
          case Seq((_, _, hi, _), (_, lo2, _, _)) => lo2 == hi + 1
          case _ => true
        }
      if (tiles) Some(ordered.map(_._1)) else None
    }

    /** A range partitioning on `seq` keeps every output file a dense
      * contiguous range (each range partition holds exactly the seqs
      * in its bounds). */
    def regroup(staged: DataFrame, target: Int): DataFrame =
      staged.repartitionByRange(target, col("seq"))
  }

  /** A table store's layout: rows sorted by `sortWithin`, every file's
    * entry the range `[lo, hi]` the caller gives — `(ver, ver)` for a
    * commit, a minor fold's content version range. A zero-row file is
    * kept, so a 0-row commit still records its version. */
  final case class Ranged(lo: Long, hi: Long, sortWithin: Seq[String])
      extends Layout {

    def range(blocks: Seq[BlockMetaData]): Option[(Long, Long)] = Some((lo, hi))

    /** Name order = the write job's partition order, so the copied
      * content order matches what the coalesce job produces. */
    def copyOrder(staged: List[FileIO.Entry],
        footer: FileIO.Entry => Footer): Option[List[FileIO.Entry]] =
      Some(staged.sortBy(_.name))

    /** The coalesce runs several staged files into one output file (and
      * one row group); the sort after it keeps every row group of a
      * published file in `sortWithin` order. */
    def regroup(staged: DataFrame, target: Int): DataFrame =
      staged.coalesce(target)
  }
}
