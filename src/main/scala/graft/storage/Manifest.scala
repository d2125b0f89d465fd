package graft.storage

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** One committed data segment: a single parquet file holding a dense,
  * contiguous seq range [minSeq, maxSeq].
  *
  * `bytes` is the file's on-disk size, recorded AT COMMIT so that
  * planning (statistics, partition packing, small-segment folds,
  * stream admission) never stats the file again — at 100 TB segment
  * counts, per-plan `io.size` calls are a driver-side planning tax on
  * every query (guide §5/§6). `None` on manifests written before the
  * field existed; consumers stat-fallback exactly once per plan for
  * those.
  */
final case class Segment(
    path: String,
    minSeq: Long,
    maxSeq: Long,
    rows: Long,
    bytes: Option[Long] = None)

/** The log's transaction manifest — the Spark-world analogue of the
  * reference's `jrnl` file (offset2/journal.go:20-66): a single small
  * record that makes a set of immutable data files atomically visible
  * and carries the committed max sequence number.
  *
  * Commit protocol: stage the new content, then atomically publish it
  * over `manifest.json` — through [[FileIO]], so the staging/publish
  * pair is fsync'd tmp + ATOMIC_MOVE on local disk, tmp +
  * `FileContext.rename(OVERWRITE)` on HDFS, and a single atomic PUT on
  * object stores (see [[FileIO]] for the per-backend protocol).
  * Readers only trust files listed here; a crash mid-append leaves
  * orphan parquet files that are invisible (and are swept by
  * checkConsistency), giving the same recovery semantics as the
  * reference's journal cross-check (offset2/log.go:217-302).
  *
  * At cluster scale this is one tiny JSON object on shared storage
  * maintained by the single committer — the one honest serialization
  * point a dense-seq append-only log requires (same discipline as the
  * reference's per-log mutex, offset2/log.go:46).
  */
final case class Manifest(
    version: Long,
    maxSeq: Long, // == Seqs.SeqEmpty (-1) when empty
    valueSchemaJson: String, // Spark DataType JSON of the value column
    segments: List[Segment],
    // high-water mark of the last committed STREAMING sink micro-batch
    // (graft-log writeStream leg): replayed batches after a restart
    // are recognized and skipped — exactly-once without a side
    // channel, because the mark commits atomically WITH the batch's
    // segments. Absent (None) on logs never written by a stream;
    // old manifests parse compatibly.
    streamBatch: Option[Long] = None,
    // the streaming QUERY the batch mark belongs to: batch ids are
    // only comparable within one query/checkpoint lineage (a NEW
    // query restarts ids at 0, and silently skipping its early
    // batches as "replays" would be data loss). A mismatched query is
    // refused loudly; ParquetLog.releaseStreamBinding rebinds.
    streamQuery: Option[String] = None,
    // TableStore only: the version a `rewrite` (delete/compact) folded
    // all prior history into. Snapshot reads (`versionAsOf`) below
    // this are unreconstructable and refused loudly; absent = never
    // folded (old manifests parse compatibly).
    foldedBelow: Option[Long] = None
) {

  /** TableStore snapshot: the segments holding commit versions
    * `1..v`. Commit versions are dense, so the snapshot is
    * reconstructable iff every version `<= v` is still retained — a
    * `rewrite` folds history into one new version, after which
    * earlier snapshots are GONE and are refused loudly (a raw
    * `_ver <= v` filter would silently return a wrong table). A
    * minor-folded segment whose version range straddles `v` is
    * included; its readers cut `_ver <= v` inside it. */
  def asOf(v: Long): List[Segment] = {
    require(v >= 0, s"versionAsOf must be >= 0 (got $v)")
    require(v <= version,
      s"versionAsOf $v does not exist yet (latest commit: $version)")
    val floor = foldedBelow.getOrElse(0L)
    require(v >= floor,
      s"snapshot at version $v is unavailable: history below version " +
        s"$floor was folded by a rewrite (compact/delete)")
    segments.filter(_.minSeq <= v)
  }
}

object Manifest {
  private implicit val fmts: Formats = DefaultFormats

  def manifestPath(dir: String): String = FileIO.join(dir, "manifest.json")

  /** The versioned commit-marker object of the conditional-PUT
    * protocol (object-store backends only): its exclusive creation IS
    * the commit point, and it carries the full manifest JSON so a
    * reader can roll forward over a crashed committer's stale
    * pointer. Zero-padded so lexicographic listings sort by version. */
  private[graft] def markerPath(dir: String, version: Long): String =
    FileIO.join(dir, f"commit-v$version%020d.json")

  /** The committed manifest; None when no manifest file exists.
    * A PRESENT-but-unreadable manifest THROWS: callers like open()
    * must not mistake a torn/corrupt commit point for a fresh
    * directory and silently re-initialize over real data. Recovery
    * tooling that wants graceful degradation uses [[tryLoad]].
    *
    * On object-store backends the pointer (`manifest.json`) is a
    * CACHE of the latest commit marker: a committer that crashed
    * between the marker PUT (the commit point) and the pointer PUT
    * leaves the pointer one-or-more versions stale, so the read
    * ROLLS FORWARD through any markers above the pointer — read-only
    * healing (the next successful commit repairs the pointer). The
    * marker chain above the pointer is contiguous by construction:
    * markers are only GC'd by a commit that has already advanced the
    * pointer past them. */
  def load(dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    val io = FileIO.forPath(p)
    val base =
      if (!io.exists(p)) None
      else Some(JsonMethods.parse(io.readString(p)).extract[Manifest])
    if (!io.isDirectPut(dir)) base
    else {
      var cur = base
      var next = markerPath(dir, cur.map(_.version).getOrElse(-1L) + 1L)
      while (io.exists(next)) {
        cur = Some(JsonMethods.parse(io.readString(next)).extract[Manifest])
        next = markerPath(dir, cur.get.version + 1L)
      }
      cur
    }
  }

  /** [[load]] that degrades a present-but-unreadable manifest to None
    * instead of throwing — ONLY for fsck's "repair refused,
    * report-only sweep" fallback, where crashing the recovery tool on
    * the very state it exists to diagnose would be self-defeating. */
  def tryLoad(dir: String): Option[Manifest] =
    try load(dir) catch { case _: Exception => None }

  /** Thrown when a stale handle tries to commit over a newer manifest
    * — the single-writer discipline made loud (the reference gets the
    * same guarantee from its in-process log mutex; across processes a
    * lost update would silently drop segments, so we refuse). */
  final case class ConcurrentWriteException(dir: String, expected: Long, found: Long)
      extends RuntimeException(
        s"manifest conflict in $dir: committing v$expected but disk has v$found — another writer is active; reopen the log")

  /** Commit `m` as the new manifest — a real compare-and-swap on
    * every backend:
    *
    *   - '''local disk''': the version test, staging and atomic
    *     publish all run inside [[FileIO.withDirLock]] (per-dir JVM
    *     monitor plus an OS file lock), so racing committers — same
    *     process or not — serialize and the loser gets
    *     [[ConcurrentWriteException]].
    *   - '''object stores''': no cross-process lock exists, so the
    *     CAS is a CONDITIONAL PUT — the mechanism modern stores
    *     expose as `If-None-Match` (S3), generation preconditions
    *     (GCS), ETag preconditions (ABFS). The committer exclusively
    *     creates the versioned marker `commit-v<N>.json` (carrying
    *     the full manifest); exactly one racer's create succeeds, the
    *     loser gets [[ConcurrentWriteException]] instead of silently
    *     clobbering — the former "single-committer deployment
    *     contract" is now enforced by the store itself. The marker IS
    *     the commit point: the pointer `manifest.json` is then
    *     republished as a reader cache, best-effort (a crash between
    *     the two leaves a stale pointer that [[load]] rolls forward
    *     over), and the marker two versions back — which can no
    *     longer win or decide any race — is GC'd so marker litter is
    *     O(1), not O(commits).
    *   - '''HDFS''': atomic-rename publish; same-process committers
    *     serialize on the monitor, cross-process the version CAS
    *     turns a stale handle's commit into a loud refusal.
    *
    * Durability is the backend's publish contract (see [[FileIO]]):
    * fsync + rename + dir-fsync locally, atomic rename on HDFS,
    * atomic PUT on object stores. */
  def commit(dir: String, m: Manifest): Unit = {
    val io = FileIO.forPath(dir)
    io.withDirLock(dir) {
      // CAS: our version must be exactly disk+1 (or the initial
      // commit) — checked INSIDE the lock (and, on object stores,
      // re-checked BY the conditional marker PUT below, which is what
      // makes it hold across processes)
      val diskVersion = load(dir).map(_.version).getOrElse(-1L)
      if (m.version != diskVersion + 1 &&
        !(m.version == 0 && diskVersion == -1L))
        throw ConcurrentWriteException(dir, m.version, diskVersion)
      val bytes = Serialization.writePretty(m)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (io.isDirectPut(dir)) {
        // the conditional PUT both publishes and decides the race:
        // an existing marker means another process committed this
        // exact version first. The staged-hook fires INSIDE the
        // marker PUT (content staged, publish not yet happened) —
        // the same pre-commit crash window "manifest.tmpWritten"
        // means on the rename backends, so the kill matrices cover
        // this path with unchanged expectations.
        val won = io.createIfAbsent(
          markerPath(dir, m.version), bytes,
          () => FaultPoints.reach("manifest.tmpWritten"))
        if (!won)
          throw ConcurrentWriteException(dir, m.version, m.version)
        // ---- committed (the marker is durable) ----
        // pointer republish + marker GC are cache maintenance: a
        // failure here must NOT fail the commit (readers roll
        // forward; the next commit repairs the pointer), and a
        // process crash here is the crash window `load` heals
        try {
          FaultPoints.reach("manifest.markerPut")
          io.writeAtomic(manifestPath(dir), bytes)
          if (m.version >= 2) io.delete(markerPath(dir, m.version - 2))
        } catch { case scala.util.control.NonFatal(_) => () }
      } else {
        io.writeAtomic(
          manifestPath(dir),
          bytes,
          () => FaultPoints.reach("manifest.tmpWritten"))
      }
    }
  }
}
