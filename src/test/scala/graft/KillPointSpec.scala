package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.core.GraftErrors
import graft.storage.{FaultPoints, FileIO, ParquetLog, TableStore}

/** Fault-injection kill-point matrix over the committer write paths
  * (reference contract: offset2/log.go:217-302 checkJournal/recovery,
  * exercised there by offset2/rw_test.go:148-191 TestRecover).
  * ConsistencySpec pins recovery on CONSTRUCTED crash states; here a
  * real append/nullAt/compact/rewrite is INTERRUPTED after each
  * individual side-effect step via [[graft.storage.FaultPoints]], the
  * handle is discarded (crash model), and the log is reopened from
  * disk. At every boundary the invariants must hold:
  *
  *   - reads see EXACTLY the pre-op state (kill before the manifest
  *     commit) or the post-op state (kill after it) — never a blend;
  *   - fsck reports the crash litter and `repair` returns the
  *     directory to clean (litter swept, committed data untouched);
  *   - replaying the interrupted operation yields the exact intended
  *     final state (same seqs, same values — idempotent recovery).
  */
abstract class KillPointContract extends SparkSpec {

  /** "" = LocalFileIO; "file:" = HadoopFileIO over local disk — the
    * whole kill matrix runs over BOTH storage backends, so every
    * crash window's recovery is pinned on the HDFS/object-store code
    * path too, not just java.nio. */
  def fsPrefix: String
  def tag: String
  /** Whether a manifest-commit crash leaves a torn `.tmp` behind.
    * True on the rename-capable backends (staging file = the litter);
    * FALSE on the direct-PUT object-store leg, where an interrupted
    * PUT is all-or-nothing — the crash leaves NOTHING, which is the
    * superior property this flag lets the matrix pin instead. */
  def manifestTmpLitter: Boolean = true
  private def storeDir(prefix: String): String = fsPrefix + tmpDir(prefix)

  private final class Injected(val point: String)
      extends RuntimeException(s"injected fault at $point")

  /** Open with the small-append merge DISABLED (a tiny per-file
    * target makes every staged write "already justified"): this
    * matrix pins the MULTI-file move/commit crash windows, which a
    * production-sized append still exercises — the merge would fold
    * the fixture's small batches to one file and half the vectors
    * (beforeMove#2, partial-move) could never fire. The merge path's
    * own crash windows are identical (same tmp-staging, same
    * fault points) and its semantics are pinned by TableStoreSpec /
    * LogSpec. The conf is captured at open, so unsetting right after
    * leaks nothing to sibling suites. */
  private def noMerge[T](open: => T): T = {
    spark.conf.set("spark.graft.segmentTargetFileBytes", "1")
    try open
    finally spark.conf.unset("spark.graft.segmentTargetFileBytes")
  }

  /** Throw at the nth time `point` is reached (crash simulation: the
    * throw propagates out of the op and nothing after the boundary
    * runs — except where a step sits inside the in-process
    * commit-failure guard, which is itself part of the contract). */
  private def killAt(point: String, nth: Int = 1): Unit = {
    val count = new AtomicInteger
    FaultPoints.install { p =>
      if (p == point && count.incrementAndGet() == nth)
        throw new Injected(p)
    }
  }

  private def expectInjected(op: => Unit): Unit = {
    val e = intercept[RuntimeException](op)
    def injected(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[Injected] || injected(t.getCause))
    assert(injected(e), s"expected the injected fault to surface, got $e")
  }

  private def drain(log: ParquetLog): Seq[(Long, Int)] =
    log.toDF
      .orderBy("seq")
      .collect()
      .toSeq
      .map(r => (r.getLong(0), r.getInt(1)))

  private def dataFiles(dir: String): List[String] =
    FileIO.forPath(dir).list(FileIO.join(dir, "data"))
      .filterNot(e => FileIO.isHidden(e.name))
      .map(_.name).sorted

  // ---------------------------------------------------------------
  // append: every side-effect boundary of the segment writer + the commit
  // ---------------------------------------------------------------
  private val appendKills = Seq(
    ("log.segments.tmpWritten", 1), // spill written, nothing moved
    ("log.segments.beforeMove", 1), // first move about to happen
    ("log.segments.moved", 1), // PARTIAL move: 1 file in data/, rest in tmp
    ("log.segments.beforeMove", 2), // mid-sequence of moves
    ("log.segments.allMoved", 1), // all moved, tmp not yet swept
    ("log.append.preCommit", 1), // files in place, manifest not committed
    ("manifest.tmpWritten", 1) // torn manifest: tmp written, not renamed
  )

  for ((point, nth) <- appendKills)
    test(s"[$tag] append killed at $point#$nth: reopen=pre-op, fsck repairs, replay exact") {
      import spark.implicits._
      val dir = storeDir("kp-append")
      val log = noMerge(ParquetLog.open(spark, dir, IntegerType))
      log.appendValues(0 until 10) // baseline: seqs 0..9
      val baseline = drain(log)
      assert(baseline == (0 until 10).map(i => (i.toLong, i)))

      killAt(point, nth)
      try expectInjected(log.appendValues(10 until 25))
      finally FaultPoints.clear()

      // crash model: discard the handle, reopen from disk
      recoversFromAppendCrash(point, baseline,
        noMerge(ParquetLog.open(spark, dir, IntegerType)))
    }

  /** After an append of `10 until 25` over `baseline` (seqs 0..9) was
    * killed at `point`: the reopened log reads the pre-op state, fsck
    * reports the litter and repair cleans it without touching committed
    * data, and the replayed append lands on the same seqs. Returns the
    * Spark jobs the replay ran. */
  private def recoversFromAppendCrash(
      point: String,
      baseline: Seq[(Long, Int)],
      re: ParquetLog): Int = {
    import spark.implicits._
    assert(re.seq == 9L, s"reopened seq after $point crash")
    assert(drain(re) == baseline, "committed reads changed by a crashed append")

    // every append kill point leaves DETECTABLE litter (orphan tmp
    // dir, orphan data file, or torn manifest tmp) — EXCEPT a
    // manifest PUT crash on the object-store leg, whose
    // all-or-nothing publish leaves nothing (the in-process guard
    // already swept the fresh segments) ...
    val reported = re.checkConsistency(repair = false)
    if (point == "manifest.tmpWritten" && !manifestTmpLitter)
      assert(reported.isEmpty,
        s"direct-PUT manifest crash left litter: $reported")
    else
      assert(reported.nonEmpty, s"$point crash left no fsck-visible litter")
    // ... and none of it is a manifest-level problem (no gaps, no
    // missing committed segments — so repair never truncates data)
    assert(!reported.exists(_.contains("missing segment")), reported.toString)
    assert(!reported.exists(_.contains("gap/overlap")), reported.toString)

    re.checkConsistency(repair = true, minAgeMs = 0L)
    assert(re.checkConsistency(repair = false).isEmpty,
      "fsck not clean after repair")
    assert(drain(re) == baseline, "repair touched committed data")

    // replay lands on the SAME seqs with the same values
    var base = -1L
    val jobs = jobsDuring { base = re.appendValues(10 until 25) }
    assert(base == 10L, "replayed append did not resume at the crashed base")
    assert(drain(re) == (0 until 25).map(i => (i.toLong, i)))
    assert(re.checkConsistency(repair = false).isEmpty)
    jobs
  }

  // ---------------------------------------------------------------
  // append on the DRIVER PATH (merge left enabled, a local batch): it
  // reaches the same publish-half fault points and commit as the job
  // path, with no Spark job — the crash windows are the same, and so
  // must be the recovery
  // ---------------------------------------------------------------
  private val driverAppendKills = Seq(
    "log.segments.tmpWritten", // staged file written, nothing moved
    "log.segments.beforeMove", // the one move about to happen
    "log.segments.moved", // moved into data/, tmp not yet swept
    "log.segments.allMoved", // all moved, tmp not yet swept
    "log.append.preCommit", // file in place, manifest not committed
    "manifest.tmpWritten" // torn manifest: tmp written, not renamed
  )

  for (point <- driverAppendKills)
    test(s"[$tag] driver-path append killed at $point: reopen=pre-op, fsck repairs, replay exact") {
      import spark.implicits._
      val dir = storeDir("kp-dappend")
      val log = ParquetLog.open(spark, dir, IntegerType)
      assert(jobsDuring(log.appendValues(0 until 10)) == 0,
        "the baseline append left the driver path")
      val baseline = drain(log)
      assert(baseline == (0 until 10).map(i => (i.toLong, i)))

      killAt(point)
      val jobs =
        try jobsDuring(expectInjected(log.appendValues(10 until 25)))
        finally FaultPoints.clear()
      assert(jobs == 0, s"the killed append ran $jobs Spark jobs: not the driver path")

      val replayJobs = recoversFromAppendCrash(point, baseline,
        ParquetLog.open(spark, dir, IntegerType))
      assert(replayJobs == 0, "the replayed append left the driver path")
    }

  // ---------------------------------------------------------------
  // nullAt (rewriteSegmentOf — replace shares the path)
  // ---------------------------------------------------------------
  private val rewriteKillsPre = Seq(
    ("log.segments.moved", 1), // partial rewrite spill moved
    ("log.rewrite.preCommit", 1) // rewritten files in place, not committed
  )

  for ((point, nth) <- rewriteKillsPre)
    test(s"[$tag] nullAt killed at $point#$nth: pre-op reads intact, replay redacts") {
      import spark.implicits._
      val dir = storeDir("kp-null")
      val log = noMerge(ParquetLog.open(spark, dir, IntegerType))
      log.appendValues(0 until 10)

      killAt(point, nth)
      try expectInjected(log.nullAt(3))
      finally FaultPoints.clear()

      val re = noMerge(ParquetLog.open(spark, dir, IntegerType))
      // pre-op state: seq 3 still readable with its original value
      assert(re.get(3).getInt(1) == 3, "crashed nullAt leaked into reads")
      assert(re.checkConsistency(repair = false).nonEmpty)
      re.checkConsistency(repair = true, minAgeMs = 0L)
      assert(re.checkConsistency(repair = false).isEmpty)
      assert(drain(re) == (0 until 10).map(i => (i.toLong, i)))

      re.nullAt(3) // replay
      intercept[GraftErrors.ErrNulled](re.get(3))
      assert(re.get(4).getInt(1) == 4)
      assert(re.seq == 9L)
      assert(re.checkConsistency(repair = false).isEmpty)
    }

  test(s"[$tag] nullAt killed at log.rewrite.preDelete: post-op reads, old file swept, idempotent replay") {
    import spark.implicits._
    val dir = storeDir("kp-null-post")
    val log = noMerge(ParquetLog.open(spark, dir, IntegerType))
    log.appendValues(0 until 10)

    killAt("log.rewrite.preDelete")
    try expectInjected(log.nullAt(3))
    finally FaultPoints.clear()

    val re = noMerge(ParquetLog.open(spark, dir, IntegerType))
    // the commit happened: reads serve the POST-op state
    intercept[GraftErrors.ErrNulled](re.get(3))
    assert(re.get(2).getInt(1) == 2)
    // the un-deleted pre-rewrite segment is orphan litter, nothing more
    val reported = re.checkConsistency(repair = false)
    assert(reported.exists(_.contains("orphan data file")), reported.toString)
    re.checkConsistency(repair = true, minAgeMs = 0L)
    assert(re.checkConsistency(repair = false).isEmpty)
    re.nullAt(3) // replay is idempotent
    intercept[GraftErrors.ErrNulled](re.get(3))
    assert(re.seq == 9L && re.toDF.count() == 10L)
  }

  // ---------------------------------------------------------------
  // compact
  // ---------------------------------------------------------------
  test(s"[$tag] compact killed at log.compact.preCommit: segments unchanged, replay compacts") {
    import spark.implicits._
    val dir = storeDir("kp-compact")
    val log = noMerge(ParquetLog.open(spark, dir, IntegerType))
    (0 until 5).foreach(i => log.appendValues(i * 3 until (i + 1) * 3))
    val baseline = drain(log)
    val filesBefore = dataFiles(dir)

    killAt("log.compact.preCommit")
    try expectInjected(log.compact(targetRows = 1000000L))
    finally FaultPoints.clear()

    val re = noMerge(ParquetLog.open(spark, dir, IntegerType))
    assert(drain(re) == baseline)
    assert(re.checkConsistency(repair = false).nonEmpty) // orphan merged files
    re.checkConsistency(repair = true, minAgeMs = 0L)
    assert(re.checkConsistency(repair = false).isEmpty)
    // committed segment files survived the sweep untouched
    assert(dataFiles(dir) == filesBefore, "repair swept committed segments")

    re.compact(targetRows = 1000000L) // replay
    assert(drain(re) == baseline, "compaction changed data")
    assert(dataFiles(dir).length < filesBefore.length, "replayed compact did not merge")
    assert(re.checkConsistency(repair = false).isEmpty)
  }

  test(s"[$tag] compact killed at log.compact.preDelete: compacted view, old files swept") {
    import spark.implicits._
    val dir = storeDir("kp-compact-post")
    val log = noMerge(ParquetLog.open(spark, dir, IntegerType))
    (0 until 5).foreach(i => log.appendValues(i * 3 until (i + 1) * 3))
    val baseline = drain(log)
    val filesBefore = dataFiles(dir).length

    killAt("log.compact.preDelete")
    try expectInjected(log.compact(targetRows = 1000000L))
    finally FaultPoints.clear()

    val re = noMerge(ParquetLog.open(spark, dir, IntegerType))
    assert(drain(re) == baseline) // post-op state IS the same data
    val reported = re.checkConsistency(repair = false)
    assert(reported.exists(_.contains("orphan data file")), reported.toString)
    re.checkConsistency(repair = true, minAgeMs = 0L)
    assert(re.checkConsistency(repair = false).isEmpty)
    assert(dataFiles(dir).length < filesBefore)
    assert(drain(re) == baseline)
    re.compact(targetRows = 1000000L) // replay no-ops cleanly
    assert(drain(re) == baseline)
  }

  // ---------------------------------------------------------------
  // TableStore append / rewrite
  // ---------------------------------------------------------------
  private val tableSchema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", IntegerType, nullable = false)))

  private def tableRows(t: TableStore): Set[(String, Int)] =
    t.read.collect().map(r => (r.getString(0), r.getInt(1))).toSet

  private val tableAppendKills = Seq(
    ("table.segments.tmpWritten", 1),
    ("table.segments.beforeMove", 1),
    ("table.segments.moved", 1),
    ("table.segments.beforeMove", 2), // PARTIAL move of a 2-file stage
    ("table.segments.allMoved", 1), // all moved, staging not yet swept
    ("table.append.preCommit", 1),
    ("manifest.tmpWritten", 1)
  )

  for ((point, nth) <- tableAppendKills)
    test(s"[$tag] table append killed at $point#$nth: pre-op reads, sweep, replay exact") {
      import spark.implicits._
      val dir = storeDir("kp-table")
      val t = noMerge(TableStore.open(spark, dir, tableSchema))
      t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
      val v0 = t.version

      killAt(point, nth)
      try expectInjected(t.append(Seq(("c", 3), ("d", 4)).toDF("k", "v")))
      finally FaultPoints.clear()

      val re = noMerge(TableStore.open(spark, dir, tableSchema))
      assert(re.version == v0, "crashed append advanced the committed version")
      assert(tableRows(re) == Set(("a", 1), ("b", 2)))
      // litter is reported against the ON-DISK manifest and swept
      // (minAgeMs=0: in the crash model the writer is known dead);
      // the object-store leg's manifest PUT crash is all-or-nothing
      // and leaves nothing to report
      val treported = re.checkConsistency(repair = false, minAgeMs = 0L)
      if (point == "manifest.tmpWritten" && !manifestTmpLitter)
        assert(treported.isEmpty,
          s"direct-PUT manifest crash left litter: $treported")
      else
        assert(treported.nonEmpty,
          s"$point crash left no fsck-visible litter")
      re.checkConsistency(repair = true, minAgeMs = 0L)
      val after = re.checkConsistency(repair = false, minAgeMs = 0L)
      assert(after.isEmpty, s"fsck not clean after repair: $after")

      val v1 = re.append(Seq(("c", 3), ("d", 4)).toDF("k", "v")) // replay
      assert(v1 == v0 + 1, "replayed append skipped a version")
      assert(tableRows(re) == Set(("a", 1), ("b", 2), ("c", 3), ("d", 4)))
    }

  test(s"[$tag] table rewrite killed at table.rewrite.preCommit: pre-op table intact, replay folds") {
    import spark.implicits._
    val dir = storeDir("kp-table-rw")
    val t = noMerge(TableStore.open(spark, dir, tableSchema))
    t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    t.append(Seq(("c", 3)).toDF("k", "v"))

    killAt("table.rewrite.preCommit")
    try expectInjected(t.rewrite(df => df.where(col("k") =!= "b")))
    finally FaultPoints.clear()

    val re = noMerge(TableStore.open(spark, dir, tableSchema))
    assert(tableRows(re) == Set(("a", 1), ("b", 2), ("c", 3)))
    assert(re.checkConsistency(repair = false, minAgeMs = 0L).nonEmpty)
    re.checkConsistency(repair = true, minAgeMs = 0L)
    assert(re.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)

    re.rewrite(df => df.where(col("k") =!= "b")) // replay
    assert(tableRows(re) == Set(("a", 1), ("c", 3)))
    assert(re.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
  }

  test(s"[$tag] table rewrite killed at table.rewrite.preDelete: folded view, old files swept") {
    import spark.implicits._
    val dir = storeDir("kp-table-rwpost")
    val t = noMerge(TableStore.open(spark, dir, tableSchema))
    t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    t.append(Seq(("c", 3)).toDF("k", "v"))

    killAt("table.rewrite.preDelete")
    try expectInjected(t.rewrite(df => df.where(col("k") =!= "b")))
    finally FaultPoints.clear()

    val re = noMerge(TableStore.open(spark, dir, tableSchema))
    assert(tableRows(re) == Set(("a", 1), ("c", 3))) // post-op state
    val reported = re.checkConsistency(repair = false, minAgeMs = 0L)
    assert(reported.exists(_.contains("orphan segment")), reported.toString)
    re.checkConsistency(repair = true, minAgeMs = 0L)
    assert(re.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
    assert(tableRows(re) == Set(("a", 1), ("c", 3)))
  }

  // ---------------------------------------------------------------
  // in-process failure (NOT a crash): the cleanup guard must leave
  // zero litter when the commit itself fails under a live process
  // ---------------------------------------------------------------
  test(s"[$tag] in-process commit failure sweeps its own fresh segments (no orphans)") {
    import spark.implicits._
    val dir = storeDir("kp-inproc")
    val log = noMerge(ParquetLog.open(spark, dir, IntegerType))
    log.appendValues(0 until 5)
    val filesBefore = dataFiles(dir)

    // manifest.tmpWritten sits INSIDE the writer's commit guard: the
    // in-memory handle survives, cleans its fresh files, and stays
    // serviceable at the committed state
    killAt("manifest.tmpWritten")
    try expectInjected(log.appendValues(5 until 10))
    finally FaultPoints.clear()

    assert(dataFiles(dir) == filesBefore,
      "in-process commit failure leaked segment files")
    assert(log.seq == 4L)
    // the same handle keeps working without a reopen
    log.appendValues(5 until 10)
    assert(drain(log) == (0 until 10).map(i => (i.toLong, i)))
  }
}

class KillPointSpec extends KillPointContract {
  def fsPrefix = ""
  def tag = "local"
}

/** The same kill matrix with every metadata side effect routed through
  * [[graft.storage.HadoopFileIO]] (`file:` scheme on local disk) —
  * staging, publish, sweep, and recovery on the filesystem API an
  * HDFS/object-store deployment actually uses. */
class KillPointHadoopSpec extends KillPointContract {
  def fsPrefix = "file:"
  def tag = "hadoopfs"
}

/** The same kill matrix over the emulated OBJECT STORE
  * ([[graft.testfs.SinglePutFileSystem]]: single-PUT-on-close create,
  * no append, recorded renames) — every crash window's recovery
  * pinned on the direct-PUT commit path, where an interrupted
  * metadata write must leave NOTHING visible rather than a `.tmp`
  * staging file. */
class KillPointObjectStoreSpec extends KillPointContract {
  graft.testfs.SinglePutFileSystem.install(spark)
  def fsPrefix = "graftput:"
  def tag = "objectstore"
  override def manifestTmpLitter = false
}
