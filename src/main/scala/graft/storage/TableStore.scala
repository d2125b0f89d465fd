package graft.storage

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, RowOrdering, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

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

  // every segment write, table layout: one entry range per write
  private val writer = new SegmentWriter(spark, dir, "table",
    SegmentWriter.TableSmallAppendMaxBytes)

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
    * micro-batch lands as ONE file sorted end to end.
    *
    * Within the small-append cut (`spark.graft.smallAppendCoalesceMaxBytes`,
    * `spark.graft.segmentTargetFileBytes`), a batch whose rows are
    * already on the driver (local relations the optimizer folds to one
    * local table scan: `KVIndex.set`, `MultiLog.append`, a pump over a
    * driver-collected increment) is sorted and staged on the driver
    * with no Spark job, as a small log append is; any other small
    * batch is written by ONE task. Either way only the manifest commit
    * is serialized. */
  def append(df: DataFrame, sortWithin: Seq[String] = Nil): Long = synchronized {
    val ver = manifest.version + 1
    val out = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .withColumn("_ver", lit(ver))
    val layout = SegmentWriter.Ranged(ver, ver, sortWithin)
    // the small-append cut: a tiny batch's write job runs as ONE task.
    // coalesce is a narrow dependency — upstream stages keep their
    // parallelism past any exchange; only the post-shuffle final stage
    // narrows, which is why the cut stays tiny
    val small = writer.small(out)
    val segs = (if (small) SegmentWriter.driverResident(out) else None) match {
      case Some(rows) =>
        writer.writeOnDriver(TableStore.sortedOnDriver(rows, out, sortWithin),
          out.schema, layout)
      case None => writer.write(if (small) out.coalesce(1) else out, layout)
    }
    FaultPoints.reach("table.append.preCommit")
    manifest = writer.commit(
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
    val segs = writer.write(out, SegmentWriter.Ranged(ver, ver, sortWithin))
    val old = manifest.segments
    FaultPoints.reach("table.rewrite.preCommit")
    manifest = writer.commit(
      manifest.copy(version = ver, segments = segs,
        foldedBelow = Some(ver)),
      segs)
    FaultPoints.reach("table.rewrite.preDelete")
    old.foreach(s => writer.drop(FileIO.join(dir, s.path)))
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
    // merged files carry the folded inputs' content version range,
    // not the fold's own commit version
    val segs = writer.write(out, SegmentWriter.Ranged(cMin, cMax, layout))
    FaultPoints.reach("table.rewrite.preCommit")
    manifest = writer.commit(
      manifest.copy(version = ver,
        segments = (big ++ segs).sortBy(s => (s.minSeq, s.maxSeq, s.path))),
      segs)
    FaultPoints.reach("table.rewrite.preDelete")
    small.foreach(s => writer.drop(FileIO.join(dir, s.path)))
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
    * staging dir and/or moved `data/` files the manifest never
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
          writer.drop(f.path)
      }
    committed.segments
      .filterNot(s => io.exists(FileIO.join(dir, s.path)))
      .foreach(s => issues += s"MISSING committed segment ${s.path}")
    issues.toList
  }
}

object TableStore {

  /** `rows` of `df` in `sortWithin` order, as a write job's
    * `sortWithinPartitions` leaves them: Spark's own row ordering
    * (ascending, nulls first) over references bound to `df`'s output.
    * The sort is stable. */
  private def sortedOnDriver(rows: Array[InternalRow], df: DataFrame,
      sortWithin: Seq[String]): Iterator[InternalRow] = {
    val output = df.queryExecution.analyzed.output
    val ordering = RowOrdering.create(
      sortWithin.map(c => SortOrder(output(df.schema.fieldIndex(c)), Ascending)),
      output)
    rows.sorted(ordering).iterator
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
