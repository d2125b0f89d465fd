package graft.storage

import java.util.UUID

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.core.GraftConf

/** A small manifest-committed parquet table: append-only segments with
  * atomic visibility and copy-on-write rewrite. The shared storage
  * primitive under the derived-view layers ([[graft.multilog.MultiLog]]
  * index table, [[graft.indexes.KVIndex]] upsert table) — the Spark
  * analogue of the reference's pluggable `persist.Saver` KV backends
  * (internal/persist/interface.go:13-35): where the reference has
  * fs/SQLite/Badger/mkv, we have immutable parquet + a manifest, and
  * backend plurality collapses into path configuration.
  *
  * `version` doubles as an update-ordering epoch: each committed batch
  * gets a strictly increasing version, which the KV layer uses for
  * last-write-wins resolution. The version is written as a PHYSICAL
  * `_ver` column into every segment (a per-batch constant — parquet
  * dictionary-encodes it to nothing), so a read is always ONE parquet
  * scan over the manifest's file list regardless of how many commits
  * produced it. Under streaming ingestion (a commit per micro-batch)
  * this is the difference between O(1) and O(#commits) plan nodes.
  */
final class TableStore private (
    val spark: SparkSession,
    val dir: String,
    val schema: StructType,
    @volatile private var manifest: Manifest
) {

  private val io: FileIO = FileIO.forPath(dir)

  // target on-disk bytes per segment file for the small-append merge
  // in [[writeSegmentFiles]] — session-tunable; the default keeps a
  // micro-batch commit at 1–2 files while leaving any append whose
  // staged bytes already justify its file count untouched
  private val segmentTargetFileBytes: Long =
    GraftConf.long(spark, "spark.graft.segmentTargetFileBytes", 32L << 20)

  // staged-bytes ceiling for the DRIVER-SIDE row-group-copy merge: a
  // merge under it skips the read-back Spark job entirely (the
  // per-micro-batch floor); above it — many mid-size files, a rare
  // shape for a "small" append — the parallel coalesce rewrite is
  // worth its scheduling cost and the driver never streams large
  // byte volumes through itself (guide §5: the driver does no data
  // work)
  private val segmentMergeDriverMaxBytes: Long =
    GraftConf.long(spark, "spark.graft.segmentMergeDriverMaxBytes", 128L << 20)

  // PLAN-ESTIMATE ceiling under which an append's write job is
  // coalesced to one task (the small-append task-floor cut in
  // [[append]]). Judged as the MAX estimate over every plan node —
  // not the output estimate — so an aggregation's INPUT counts:
  // coalesce collapses the whole post-shuffle stage, and a pump's
  // "small" change table computed from a big scan must keep its
  // parallelism (an 8 MB output-only gate serialized the KV/multilog
  // pump aggregations and cost 40-100% on those builds). 1 MB of
  // in-memory estimate ≈ a few thousand rows — the micro-commit
  // shape and nothing else.
  private val smallAppendCoalesceMaxBytes: Long =
    GraftConf.long(spark, "spark.graft.smallAppendCoalesceMaxBytes", 1L << 20)

  /** On-disk schema: the logical columns plus the physical `_ver`. */
  private val diskSchema: StructType =
    StructType(schema.fields :+ StructField("_ver", LongType, nullable = false))

  def version: Long = manifest.version

  /** Number of committed segment files — the O(1) planning-cost /
    * maintenance-pressure signal an auto-compaction policy triggers
    * on (reads are one parquet scan regardless, but plan-time file
    * listing and merge-on-read fold cost grow with this). */
  def segmentCount: Int = manifest.segments.length

  /** Reload the ON-DISK manifest into this handle — cross-process
    * (and cross-handle) visibility for long-lived readers. Writers
    * never need it (every commit CAS-checks the disk), but a handle
    * held across hours — a daemon resolving "the dictionary version
    * current NOW" per fresh batch — would otherwise serve a snapshot
    * frozen at its last own commit, silently missing everything other
    * handles committed since. Monotonic: a torn/absent read leaves
    * the handle at its last known state. Returns the refreshed
    * version. */
  def refresh(): Long = synchronized {
    Manifest.tryLoad(dir).filter(_.version > manifest.version)
      .foreach(m => manifest = m)
    manifest.version
  }

  /** Append one batch as a new segment; returns the commit version.
    * `sortWithin` columns sort the rows inside each written file (a
    * key layout whose page indexes let [[slice]] prune to the key's
    * pages); the sort runs after the small-append cut, so a coalesced
    * micro-batch lands as ONE file sorted end to end. */
  def append(df: DataFrame, sortWithin: Seq[String] = Nil): Long = synchronized {
    val ver = manifest.version + 1
    val out = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .withColumn("_ver", lit(ver))
    // SMALL-APPEND TASK-FLOOR CUT: a micro-batch that arrives with N
    // partitions schedules N write tasks (then the post-write merge
    // folds the N tiny files anyway) — pure per-commit scheduling
    // overhead at any scale (guide §2.6/§6). Judge the batch by the
    // optimizer's size estimate (plan stats over-estimate on-disk
    // parquet, so the gate errs toward NOT narrowing) and coalesce
    // the write job to ONE task. coalesce is a narrow dependency:
    // upstream stages keep their parallelism past any exchange; only
    // the post-shuffle final stage narrows — which is also why the
    // gate must stay TINY: any real per-row work left in that final
    // stage (a distinct, a sort) serializes with it, so only batches
    // whose estimate says "trivial" qualify. Scale-adaptive by
    // construction — a big append's estimate leaves it untouched;
    // merge-free mode (target <= 0) skips the cut too.
    val shaped =
      if (segmentTargetFileBytes <= 0 || smallAppendCoalesceMaxBytes <= 0) out
      else {
        // stats over the ANALYZED plan (already materialized — Datasets
        // analyze eagerly at creation), NOT optimizedPlan: forcing the
        // optimizer here would run a full rule pass per append on top
        // of the one the write itself plans (measured +60% on
        // kvindex_build). The un-optimized estimate is only coarser
        // upward, which errs toward not narrowing — the safe side.
        val est = TableStore.maxPlanEstimate(out)
        // only when the batch is tiny AND its bytes justify a single
        // target file (a deliberately tiny per-file target means
        // "never fold" — honor it here too)
        if (est <= BigInt(smallAppendCoalesceMaxBytes) &&
          est <= BigInt(segmentTargetFileBytes)) out.coalesce(1)
        else out
      }
    val segs = writeSegmentFiles(shaped, ver, sortWithin)
    FaultPoints.reach("table.append.preCommit")
    commitOrCleanup(
      manifest.copy(version = ver, segments = manifest.segments ++ segs),
      segs
    )
    ver
  }

  /** The committed table, with a `_ver` column carrying each row's
    * commit version (for last-write-wins upserts downstream). A single
    * parquet scan — `_ver` is a stored column, not a plan-time union. */
  def readVersioned: DataFrame = {
    if (manifest.segments.isEmpty)
      return spark
        .createDataFrame(spark.sparkContext.emptyRDD[Row], diskSchema)
    spark.read
      .schema(diskSchema)
      .parquet(manifest.segments.map(s => FileIO.join(dir, s.path)): _*)
  }

  def read: DataFrame = readVersioned.drop("_ver")

  /** Streaming tail of the change table, on the VERSION-offset
    * connector ([[graft.sources.GraftTableSource]]): each micro-batch
    * is the whole commits `_ver ∈ (start, end]`, delivered atomically,
    * in commit order, exactly once — manifest-scoped, so cross-process
    * writers to the same dir are visible and uncommitted files never
    * are. Catch-up over a large backlog is paced (64 segments per
    * trigger). One caveat remains, by design: `rewrite`
    * (delete/compact) folds surviving history into a NEW version,
    * which is delivered like any commit; consumers fold by (`_ver`,
    * key) or use a guarded tail. */
  def stream: DataFrame =
    spark.readStream
      .format("graft-table")
      .option("maxSegmentsPerTrigger", "64")
      .load(dir)

  /** Copy-on-write rewrite of the whole table (delete / compact).
    * The rewritten table becomes a single new version. `sortWithin`
    * as in [[append]]. */
  def rewrite(
      f: DataFrame => DataFrame,
      sortWithin: Seq[String] = Nil
  ): Unit = synchronized {
    val cur = read
    val ver = manifest.version + 1
    val out = f(cur)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .withColumn("_ver", lit(ver))
    val segs = writeSegmentFiles(out, ver, sortWithin)
    val old = manifest.segments
    FaultPoints.reach("table.rewrite.preCommit")
    commitOrCleanup(
      manifest.copy(version = ver, segments = segs,
        foldedBelow = Some(ver)),
      segs)
    FaultPoints.reach("table.rewrite.preDelete")
    old.foreach(s => dropFile(FileIO.join(dir, s.path)))
  }

  private def sorted(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df else df.sortWithinPartitions(cols.map(col): _*)

  /** Delete a segment file, first dropping its shared open reader
    * ([[DirectRead.invalidate]]) so the LRU neither pins the dead
    * file's disk space nor fills with readers no manifest lists. */
  private def dropFile(path: String): Unit = {
    DirectRead.invalidate(path)
    io.delete(path)
  }

  /** The committed rows matching `filter` — a parquet predicate over
    * the on-disk columns, `_ver` included — read on the DRIVER by
    * [[SliceRead]] from this handle's manifest, as [[read]] and
    * [[readVersioned]] plan them: no Spark job. Rows are laid out as
    * the logical columns followed by `_ver`.
    *
    * `asOf = Some(v)` reads the snapshot of commit `v`, as
    * [[readAsOf]] does (the same refusal below a rewrite's fold, from
    * [[Manifest.asOf]]); a `v` past this handle's version is left to
    * [[readAsOf]], which reads the on-disk manifest. `version =
    * Some(v)` reads only the rows commit `v` wrote.
    *
    * `firstSeqsPerGroup` caps each row group's decode
    * ([[SliceRead.rows]]).
    *
    * None when the page-pruned slice exceeds `maxRows` rows or a file
    * cannot be read on the driver: the caller then runs its job
    * path. */
  private[graft] def slice(
      filter: FilterPredicate,
      maxRows: Long,
      asOf: Option[Long] = None,
      version: Option[Long] = None,
      firstSeqsPerGroup: Option[Int] = None
  ): Option[Vector[InternalRow]] = {
    val m = manifest
    if (asOf.exists(_ > m.version)) return None
    val snap = asOf.fold(m.segments)(m.asOf)
    val segs = version.fold(snap)(v =>
      snap.filter(s => s.minSeq <= v && v <= s.maxSeq))
    val ver = FilterApi.longColumn("_ver")
    // typed as FilterPredicate: the inferred common supertype of the
    // two operators is a parquet package-private class
    val cut = Seq[Option[FilterPredicate]](
      asOf.map(v => FilterApi.ltEq(ver, java.lang.Long.valueOf(v))),
      version.map(v => FilterApi.eq(ver, java.lang.Long.valueOf(v)))
    ).flatten.foldLeft(filter)(FilterApi.and)
    SliceRead.rows(segs.map(s => FileIO.join(dir, s.path)), diskSchema,
      cut, maxRows, firstSeqsPerGroup)
  }

  /** MINOR compaction: fold only the SMALL segments (staged bytes
    * below `maxSegmentBytes`) into `targetPartitions` range-laid-out
    * files, PRESERVING each row's physical `_ver`. Unlike [[rewrite]]
    * this never destroys history: snapshot reads (`readAsOf`) below
    * the fold stay EXACT (merged segments carry a `[minVer, maxVer]`
    * content range and the connector row-cuts inside them), streams
    * keep delivering exactly-once across it, and replay consumers
    * that need a pre-fold snapshot keep working. The cost is bounded
    * by the small tail, not the corpus — the fold a standing store
    * can afford on EVERY maintenance tick at 100 TB, with [[rewrite]]
    * left for explicit offline folds. Large already-folded segments
    * are never rewritten (their bytes amortize across many folds).
    *
    * `layout` is the range-partition + sort column list (the store's
    * probe-pruning order). Returns false when fewer than two small
    * segments exist (no-op, no commit). Same offline single-writer
    * contract as [[rewrite]]; an in-flight scan that loses a planned
    * file to the fold fails LOUDLY and re-runs against the current
    * table (partial re-resolution of a `_ver` plan is never sound:
    * merged files span several planned partitions' version ranges, so
    * sibling-by-sibling re-resolution would silently duplicate rows —
    * the connector refuses instead). */
  def compactSmall(
      layout: Seq[String],
      targetPartitions: Int = 8,
      maxSegmentBytes: Long = 256L << 20
  ): Boolean = synchronized {
    val small = manifest.segments.filter(s =>
      s.bytes.getOrElse(io.size(FileIO.join(dir, s.path))) < maxSegmentBytes)
    if (small.length <= 1) return false
    val smallSet = small.toSet
    val big = manifest.segments.filterNot(smallSet)
    // content version range from OCCUPIED inputs only: a 0-row commit
    // records a version no row carries, and folding its entry bounds
    // into the merged segment would break min/max(_ver) pushdown
    val occupied = small.filter(_.rows > 0)
    val basis = if (occupied.nonEmpty) occupied else small
    val cMin = basis.map(_.minSeq).min
    val cMax = basis.map(_.maxSeq).max
    val ver = manifest.version + 1
    val out = spark.read.schema(diskSchema)
      .parquet(small.map(s => FileIO.join(dir, s.path)): _*)
      .repartitionByRange(targetPartitions, layout.map(col): _*)
    val segs = writeSegmentFiles(out, ver, sortWithin = layout,
      content = Some((cMin, cMax)))
    FaultPoints.reach("table.rewrite.preCommit")
    commitOrCleanup(
      manifest.copy(version = ver,
        segments = (big ++ segs).sortBy(s => (s.minSeq, s.maxSeq, s.path))),
      segs)
    FaultPoints.reach("table.rewrite.preDelete")
    small.foreach(s => dropFile(FileIO.join(dir, s.path)))
    true
  }

  /** Snapshot (time-travel) read: the committed table exactly as of
    * commit `version`, via the connector's `versionAsOf` option —
    * segments of versions `1..version`, pruned at planning time.
    * Fails loudly if a later `rewrite` folded that history away
    * (a silent `_ver <= v` filter would return a wrong table).
    * Returns versioned rows (`_ver` attached, like [[readVersioned]])
    * so downstream last-write-wins folds work unchanged. */
  def readAsOf(version: Long): DataFrame =
    spark.read
      .format("graft-table")
      .option("versionAsOf", version)
      .load(dir)

  /** Crash-consistency sweep, the table-store face of ParquetLog's
    * fsck (reference discipline: journal cross-check,
    * offset2/log.go:217-302): a crash mid-append leaves an orphan
    * `tmp-*` spill dir and/or moved `data/` files the manifest never
    * committed; a crash mid-`rewrite` (after commit, before delete)
    * leaves the folded-away files behind. All are INVISIBLE to
    * readers (the manifest is the source of truth) but leak disk.
    * Returns the issues found; `repair = true` deletes orphans that
    * are at least `minAgeMs` old (young litter may be another
    * process's IN-FLIGHT append — moved but not yet committed — and
    * must be left alone; a crashed writer's litter only ages).
    * Orphan-ness is judged against the ON-DISK manifest, never this
    * handle's possibly-stale view. A manifest-listed file that is
    * MISSING is reported but never auto-repaired — that is data
    * loss, not litter. */
  def checkConsistency(
      repair: Boolean = false,
      minAgeMs: Long = 600000L
  ): List[String] = synchronized {
    val issues = scala.collection.mutable.ListBuffer.empty[String]
    // the ON-DISK manifest is the source of truth: another handle or
    // process may have committed since this handle's last write, and
    // sweeping against the stale in-memory view would classify THEIR
    // committed segments as orphans — repair would destroy real data.
    // If the on-disk manifest cannot be loaded at all (transient FS
    // rename visibility, torn read), repair is REFUSED outright: the
    // in-memory fallback is fine for reporting, but deleting against
    // it could sweep segments another process committed.
    val onDisk = Manifest.tryLoad(dir)
    val committed = onDisk.getOrElse(manifest)
    val doRepair = repair && onDisk.isDefined
    if (repair && onDisk.isEmpty)
      issues += "manifest unreadable: repair refused, report-only sweep"
    val listed = committed.segments.map(_.path).toSet
    // litter younger than minAgeMs is never deleted: it may be an
    // in-flight append in another process (files moved into data/ but
    // not yet committed) — deleting those corrupts its commit. A
    // crashed writer's litter only AGES; a live writer's commits
    // within minutes.
    // age-gate + listing + root-litter sweep shared with ParquetLog
    // via FsckSweep (one copy, one discipline); the committed version
    // bounds which commit markers are orphans
    FsckSweep.sweepRootLitter(dir, doRepair, minAgeMs, issues += _,
      committedVersion = committed.version)
    val dataDir = FileIO.join(dir, "data")
    FsckSweep.ls(dataDir)
      .filter(f => !listed.contains(s"data/${f.name}"))
      .foreach { f =>
        issues += s"orphan segment data/${f.name}"
        if (doRepair && FsckSweep.oldEnough(f.mtimeMs, minAgeMs))
          dropFile(f.path)
      }
    committed.segments
      .filterNot(s => io.exists(FileIO.join(dir, s.path)))
      .foreach(s => issues += s"MISSING committed segment ${s.path}")
    issues.toList
  }

  /** Write `out` as new segment files under data/ and return their
    * manifest entries (not yet committed). `sortWithin` sorts the rows
    * of each written file, and every row group of a published file
    * keeps that order (the sublog limit read relies on it): the
    * row-group concat copies sorted groups whole, and the coalesce
    * fallback, which runs several staged files into one output file
    * (and one row group), sorts again after the coalesce. `content`
    * overrides the per-file `[minSeq, maxSeq]` entry range — a MINOR
    * fold's merged files carry the folded inputs' version range
    * instead of the fold's own commit version. */
  private def writeSegmentFiles(
      out: DataFrame,
      ver: Long,
      sortWithin: Seq[String],
      content: Option[(Long, Long)] = None
  ): List[Segment] = {
    val tmp = FileIO.join(dir, s"tmp-${UUID.randomUUID()}")
    sorted(out, sortWithin).write.options(ParquetLog.SegmentWriteOptions)
      .mode(SaveMode.Overwrite).parquet(tmp)
    // Small-append coalescing: a batch that arrives with N partitions
    // writes N files regardless of size (the write boundary is often
    // narrow, so AQE never coalesces it), and a store advanced by
    // thousands of small commits — the streaming-daemon shape — then
    // pays O(files) listing/footer cost at EVERY plan. Judge staged
    // bytes (real sizes, not a row guess) and fold a tiny multi-file
    // stage into ceil(bytes/target) files before publishing — by
    // DRIVER-SIDE row-group copy ([[ParquetConcat]]), not a read-back
    // coalesce job: the bytes moved are bounded by the small-append
    // threshold, and skipping the second Spark job removes its fixed
    // scheduling cost from every micro-batch commit. Large appends
    // untouched.
    val staged = io.list(tmp)
      .filter(f => f.name.endsWith(".parquet") && !FileIO.isHidden(f.name))
    val merged =
      if (staged.length <= 1 || segmentTargetFileBytes <= 0) tmp
      else {
        val sizes = staged.map(f => f.path -> io.size(f.path)).toMap
        val totalBytes = sizes.valuesIterator.sum
        val target = math.max(1L,
          (totalBytes + segmentTargetFileBytes - 1) / segmentTargetFileBytes)
        if (target >= staged.length) tmp
        else {
          val tmp2 = FileIO.join(dir, s"tmp-${UUID.randomUUID()}")
          if (totalBytes <= segmentMergeDriverMaxBytes) {
            io.mkdirs(tmp2)
            // name order = the write job's partition order, so the
            // merged content order matches what the coalesce
            // read-back produced
            ParquetConcat
              .packGroups(staged.sortBy(_.name), sizes, target.toInt)
              .zipWithIndex.foreach { case (group, i) =>
                ParquetConcat.concat(io, group.map(_.path),
                  FileIO.join(tmp2, f"part-$i%05d.parquet"))
              }
          } else
            sorted(spark.read.schema(diskSchema).parquet(tmp)
              .coalesce(target.toInt), sortWithin)
              .write.options(ParquetLog.SegmentWriteOptions)
              .mode(SaveMode.Overwrite).parquet(tmp2)
          FsckSweep.deleteRecursively(tmp)
          tmp2
        }
      }
    FaultPoints.reach("table.segments.tmpWritten")
    val files = io.list(merged)
      .filter(f => f.name.endsWith(".parquet") && !FileIO.isHidden(f.name))
    val dataDir = FileIO.join(dir, "data")
    io.mkdirs(dataDir)
    val segs = files.map { f =>
      val name = f"seg-$ver%08d-${UUID.randomUUID().toString.take(8)}.parquet"
      // exact row count from the parquet footer (one cheap metadata
      // read of a file we just wrote) — feeds the connector's
      // statistics and byte/row admission control
      val rows =
        try {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            io.inputFile(f.path))
          try r.getRecordCount finally r.close()
        } catch { case _: Exception => 0L }
      // on-disk size recorded at commit: planning (statistics,
      // packing, compactSmall, admission) reads it from the manifest
      // instead of stat-ing every segment on every plan
      val fbytes = try Some(io.size(f.path)) catch {
        case _: Exception => None
      }
      FaultPoints.reach("table.segments.beforeMove")
      io.rename(f.path, FileIO.join(dataDir, name))
      FaultPoints.reach("table.segments.moved")
      val (lo, hi) = content.getOrElse((ver, ver))
      Segment(s"data/$name", lo, hi, rows, fbytes)
    }
    FsckSweep.deleteRecursively(merged)
    segs
  }

  /** Commit the manifest, then publish it to this handle. On a commit
    * failure (stale handle, ConcurrentWriteException) the just-written
    * segment files are removed and the in-memory view stays at the last
    * COMMITTED state — a stale handle never serves uncommitted data. */
  private def commitOrCleanup(next: Manifest, segs: List[Segment]): Unit = {
    try Manifest.commit(dir, next)
    catch {
      case e: Throwable =>
        segs.foreach(s => dropFile(FileIO.join(dir, s.path)))
        throw e
    }
    manifest = next
  }

}

object TableStore {

  /** Size estimate for the small-append gate: the MAX analyzed-plan
    * node estimate, so the cut only fires when everything the write
    * stage would serialize — scans, aggregate inputs, join sides —
    * is itself tiny. Shared with [[ParquetLog]]'s append gate. */
  private[storage] def maxPlanEstimate(df: DataFrame): BigInt = {
    var m = BigInt(0)
    df.queryExecution.analyzed.foreach { p =>
      val s = p.stats.sizeInBytes
      if (s > m) m = s
    }
    m
  }

  def open(spark: SparkSession, dir: String, schema: StructType): TableStore = {
    // data/ exists from open so `stream` can subscribe before the
    // first committed batch
    FileIO.forPath(dir).mkdirs(FileIO.join(dir, "data"))
    val m = Manifest.load(dir).getOrElse {
      val fresh = Manifest(0L, graft.core.Seqs.SeqEmpty, schema.json, Nil)
      Manifest.commit(dir, fresh)
      fresh
    }
    // reopening with a DIFFERENT schema would silently misread every
    // committed segment (forced .schema() turns renamed columns into
    // all-null) and the next append would mix schemas in one file
    // list — refuse loudly, like ParquetLog.append's value-type check.
    // Nullability is excluded from the comparison: it drifts benignly
    // across Spark plan shapes and never changes the physical layout.
    //
    // ONE widening is tolerated as an in-place migration: reopening
    // with the stored columns (in order, types unchanged) PLUS new
    // nullable fields (a software upgrade adding a column, e.g. the
    // daemon's seen store gaining `dsir_logw`). Parquet reads are by
    // NAME under a forced schema, so old segments simply yield null
    // for the added columns — no data rewrite; the manifest's schema
    // is upgraded in one commit so the store's pinned identity
    // follows the new shape. Any other mismatch (renames, type
    // changes, dropped or reordered stored columns) still refuses:
    // those would misread real data.
    val stored = DataType.fromJson(m.valueSchemaJson).asInstanceOf[StructType]
    val mig =
      if (normalize(stored) == normalize(schema)) m
      else if (isWidening(stored, schema)) {
        val next = m.copy(version = m.version + 1,
          valueSchemaJson = schema.json)
        Manifest.commit(dir, next)
        next
      } else throw new IllegalArgumentException(
        s"table at $dir was created with schema ${stored.simpleString}; " +
          s"reopening with ${schema.simpleString} would misread it")
    new TableStore(spark, dir, schema, mig)
  }

  /** True when `requested` is `stored` plus new NULLABLE fields — the
    * one schema evolution a manifest-gated parquet store can absorb
    * without rewriting data (by-name reads fill the added columns
    * with null in pre-migration segments). Precisely: the stored
    * fields must appear as an order-preserving subsequence of the
    * requested fields with identical names and (normalized) types,
    * and every field NOT in that subsequence must be nullable. A
    * missing or reordered stored column is never a widening — that
    * shape is indistinguishable from a rename and stays refused. */
  private def isWidening(
      stored: StructType, requested: StructType): Boolean = {
    val st = stored.fields.map(f => (f.name, normalize(f.dataType)))
    var i = 0
    var addedOk = true
    requested.fields.foreach { f =>
      if (i < st.length && f.name == st(i)._1 &&
        normalize(f.dataType) == st(i)._2) i += 1
      else if (!f.nullable) addedOk = false
    }
    addedOk && i == st.length &&
      requested.fields.length > stored.fields.length
  }

  /** Structural schema identity for the reopen check: nullability and
    * field metadata drift benignly across Spark plan shapes and never
    * change the physical layout, so both are erased before compare. */
  private def normalize(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f => StructField(
        f.name, normalize(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(
        normalize(at.elementType), containsNull = true)
    case mt: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(
        normalize(mt.keyType), normalize(mt.valueType),
        valueContainsNull = true)
    case other => other
  }
}
