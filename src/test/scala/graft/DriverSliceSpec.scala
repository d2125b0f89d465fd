package graft

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.core.GraftErrors
import graft.core.QuerySpec
import graft.core.QuerySpec._
import graft.indexes.KVIndex
import graft.multilog.{MemMultiLog, MultiLog, SublogApi}
import graft.storage.{DirectRead, FileIO, Manifest, TableStore}

/** The driver path of the derived-view reads: `KVIndex.get`/`getAsOf`
  * and `Sublog.query`/`get`/`seq` (plus `MultiLog.has`) answered from
  * page-pruned TableStore slices with no Spark job.
  *
  *   - equivalence: a handle with the default row bound (driver path)
  *     and one with bound 0 (every non-empty slice goes to the job
  *     path) give the same answers over null values, tombstones,
  *     Set/Delete/Set, replayed batches with equal useq, multi-segment
  *     stores with and without page indexes, minor folds and the
  *     refusal below a rewrite's fold; sublog queries also agree with
  *     `MemMultiLog` over the QuerySpec algebra;
  *   - structure: 0 jobs below the bound, > 0 above it;
  *   - hygiene: rewrites drop the shared readers of the files they
  *     delete.
  */
class DriverSliceSpec extends SparkSpec {
  import spark.implicits._

  private def kvBatch(rows: (String, String, Boolean, Long)*): DataFrame =
    rows.toDF("addr", "value", "tombstone", "useq")

  private def files(dir: String): List[String] =
    Manifest.load(dir).get.segments.map(s => FileIO.join(dir, s.path))

  private def hasPageIndex(file: String): Boolean = {
    val r = ParquetFileReader.open(FileIO.forPath(file).inputFile(file))
    try r.readOffsetIndex(r.getRowGroups.get(0).getColumns.get(0)) != null
    finally r.close()
  }

  /** `f` on the driver path (asserting it ran no job) and on the job
    * path of a fresh bound-0 handle; both answers. */
  private def kvBoth[A](dir: String)(f: KVIndex => A): (A, A) = {
    var d: Option[A] = None
    val driver = KVIndex.open(spark, dir)
    assert(jobsDuring { d = Some(f(driver)) } == 0)
    (d.get, f(new KVIndex(spark, dir, 0L)))
  }

  private val kvKeys =
    Seq("a", "n", "r", "t", "k0", "k7", "k19", "missing")

  /** Commits 1-8 cover every row shape the fold sees; commit 9 is a
    * three-row-group concat-merged segment with no page index. */
  private def kvStore(): String = {
    val dir = tmpDir("ds-kv-")
    val kv = KVIndex.open(spark, dir)
    kv.set("a", "a1")
    kv.set("n", "n1")
    kv.applyBatch(kvBatch(("n", null, false, 0L))) // a NULL value
    kv.delete("a")
    kv.set("a", "a3") // Set / Delete / Set
    val replay = kvBatch(("r", "r-low", false, 1L), ("r", "r-high", false, 2L),
      ("t", "t1", false, 5L))
    kv.applyBatch(replay)
    kv.applyBatch(replay) // replayed batch: the same useqs again
    kv.applyBatch(kvBatch(("t", "t0", false, 9L), ("t", null, true, 10L)))
    spark.conf.set("spark.graft.smallAppendCoalesceMaxBytes", "0")
    val wide = try KVIndex.open(spark, dir)
    finally spark.conf.unset("spark.graft.smallAppendCoalesceMaxBytes")
    wide.applyBatch((0 until 60)
      .map(i => (s"k${i % 20}", s"w$i", false, i.toLong))
      .toDF("addr", "value", "tombstone", "useq").repartition(3))
    assert(wide.version == 9L)
    dir
  }

  private val kvLatest = Seq(Some("a3"), None, Some("r-high"), None,
    Some("w40"), Some("w47"), Some("w59"), None)

  test("KVIndex get and getAsOf agree with the job path across commit " +
    "shapes, segments without page indexes and a minor fold") {
    val dir = kvStore()
    val fs = files(dir)
    assert(fs.length == 9)
    assert(fs.count(hasPageIndex) == 8, "only the concat-merged file lacks one")
    val (got, want) = kvBoth(dir)(kv => kvKeys.map(kv.get))
    assert(got == want)
    assert(got == kvLatest)
    val (gotAsOf, wantAsOf) =
      kvBoth(dir)(kv => (0L to 9L).map(v => kvKeys.map(kv.getAsOf(_, v))))
    assert(gotAsOf == wantAsOf)
    assert(gotAsOf(1).head.contains("a1") && gotAsOf(4).head.isEmpty &&
      gotAsOf(3)(1).isEmpty && gotAsOf(2)(1).contains("n1"))
    assert(gotAsOf(8)(3).isEmpty && gotAsOf(7)(3).contains("t1"))

    // a minor fold keeps each row's _ver in files spanning versions
    assert(TableStore.open(spark, dir, KVIndex.schema)
      .compactSmall(Seq("addr"), targetPartitions = 3))
    val probes = Seq(0L, 2L, 3L, 4L, 7L, 8L, 10L)
    val (folded, foldedJob) = kvBoth(dir)(kv =>
      (kvKeys.map(kv.get), probes.map(v => kvKeys.map(kv.getAsOf(_, v)))))
    assert(folded == foldedJob)
    assert(folded._1 == kvLatest && folded._2.last == kvLatest &&
      folded._2.init == probes.init.map(v => gotAsOf(v.toInt)))
  }

  test("KVIndex reads refuse below a rewrite's fold on both paths and " +
    "run jobs above the row bound") {
    val dir = kvStore()
    val kv = KVIndex.open(spark, dir)
    kv.compact()
    assert(intercept[IllegalArgumentException](kv.getAsOf("a", 5L))
      .getMessage.contains("folded"))
    assert(intercept[Exception](new KVIndex(spark, dir, 0L).getAsOf("a", 5L))
      .getMessage.contains("folded"))
    val (got, want) = kvBoth(dir)(kv =>
      (kvKeys.map(kv.get), kvKeys.map(kv.getAsOf(_, 10L))))
    assert(got == want && got._1 == kvLatest && got._2 == kvLatest)
    // a getAsOf past this handle's version reads the on-disk manifest
    val stale = KVIndex.open(spark, dir)
    kv.set("a", "a4")
    assert(stale.getAsOf("a", 11L).contains("a4"))
    assert(jobsDuring(new KVIndex(spark, dir, 0L).get("a")) > 0)
  }

  test("a store with more segment files than half the shared reader " +
    "cache reads through the job path until it is folded") {
    val dir = tmpDir("ds-many-")
    val kv = KVIndex.open(spark, dir)
    (0 until 33).foreach(i => kv.set(s"k${i % 3}", s"v$i"))
    var got: Option[String] = None
    assert(jobsDuring { got = kv.get("k2") } > 0)
    assert(got.contains("v32"))
    kv.compact()
    assert(jobsDuring { got = kv.get("k2") } == 0)
    assert(got.contains("v32"))
  }

  // -------------------------------------------------------------
  // sublogs
  // -------------------------------------------------------------

  private def combos: Seq[Seq[QuerySpec]] = {
    val lowers = Seq(None, Some(Gt(1)), Some(Gte(1)))
    val uppers = Seq(None, Some(Lt(5)), Some(Lte(5)))
    val dirs = Seq(None, Some(Reverse(true)))
    val limits = Seq(None, Some(Limit(0)), Some(Limit(2)))
    val wraps = Seq(None, Some(SeqWrap(true)))
    val grid = for {
      l <- lowers; u <- uppers; d <- dirs; n <- limits; w <- wraps
    } yield Seq(l, u, d, n, w).flatten
    grid ++ Seq(Seq(Gt(Long.MaxValue)), Seq(Lte(Long.MaxValue), SeqWrap(true)),
      Seq(Gte(-5), Lt(-1)), Seq(Gte(3), Lt(3)), Seq(Limit(-1)),
      Seq(Gte(-5), Limit(100), Reverse(true), SeqWrap(true)))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("sublog reads agree with the job path and MemMultiLog over the " +
    "QuerySpec algebra, duplicates across segments and deletes") {
    val dir = tmpDir("ds-ml-")
    val ml = MultiLog.open(spark, dir)
    val mem = new MemMultiLog(spark)
    def both(rs: Seq[(String, Long)]): Unit = {
      ml.appendBatch(rs.toDF("addr", "seq"))
      mem.appendBatch(rs.toDF("addr", "seq"))
    }
    both((0L until 30L).map(s => ("even", 2 * s)) ++
      (0L until 30L).map(s => ("odd", 2 * s + 1)))
    both((20L until 40L).map(s => ("even", 2 * s)) :+ ("tiny" -> 7L)) // duplicates
    both(Seq("odd" -> 1L, "tiny" -> 3L, "odd" -> 999L))
    val doomed = ml.sublog("odd")
    ml.delete("odd")
    mem.delete("odd")
    both(Seq("odd" -> 5L, "even" -> 1000L))
    intercept[GraftErrors.ErrSublogDeleted](doomed.query(Limit(1)))
    intercept[GraftErrors.ErrSublogDeleted](doomed.seq)

    val job = new MultiLog(spark, dir, 0L)
    val driver = MultiLog.open(spark, dir)
    for (addr <- Seq("even", "odd", "tiny", "missing")) {
      val (d, j, m) = (driver.sublog(addr), job.sublog(addr), mem.sublog(addr))
      var seqD = 0L
      var hasD = false
      assert(jobsDuring { seqD = d.seq; hasD = driver.has(addr) } == 0)
      assert(seqD == j.seq && seqD == m.seq, addr)
      assert(hasD == job.has(addr) && hasD == mem.has(addr), addr)
      def at(s: SublogApi, r: Long): Either[Long, Long] =
        try Right(s.get(r)) catch { case e: GraftErrors.ErrOutOfBounds => Left(e.seq) }
      val ranks = -1L to seqD + 1
      var got = Seq.empty[Either[Long, Long]]
      assert(jobsDuring { got = ranks.map(at(d, _)) } == 0)
      assert(got == ranks.map(at(m, _)), addr)
      for (specs <- combos) {
        var dr = Seq.empty[Row]
        assert(jobsDuring { dr = rows(d.query(specs: _*)) } == 0, specs)
        assert(dr == rows(m.query(specs: _*)), s"$addr $specs")
      }
    }
    // the job path over a subset; the driver frame keeps its schema
    for (specs <- combos.filter(_.exists(_.isInstanceOf[SeqWrap])).take(24)) {
      val (d, j) = (driver.sublog("even").query(specs: _*),
        job.sublog("even").query(specs: _*))
      assert(d.schema == j.schema, specs)
      assert(rows(d) == rows(j), specs)
    }
    assert(driver.sublog("even").query(Limit(3)).schema ==
      job.sublog("even").query(Limit(3)).schema)
    assert(jobsDuring(job.sublog("even").seq) > 0)
    assert(jobsDuring(rows(job.sublog("even").query(Limit(2)))) > 0)
  }

  test("a forward sublog limit decodes only each row group's first " +
    "ranks and stays exact over cross-file duplicates, a concat-merged " +
    "file and a rewrite that keeps duplicates") {
    val dir = tmpDir("ds-ml-cap-")
    val mem = new MemMultiLog(spark)
    // one commit staged as three sorted files (one per `part`) and
    // concat-merged into one segment of three row groups: the seqs of
    // sublogs "a" and "b" interleave across the groups, so no
    // file-wide prefix holds their first ranks; sublog "d" sits in
    // one group with every seq written twice, side by side
    val first = (0L until 60L).map(s => ("a", s * 3, s % 3)) ++
      (0L until 20L).map(s => ("b", s, s % 3)) ++
      (0L until 40L).flatMap(s => Seq(("d", s, 0L), ("d", s, 0L)))
    spark.conf.set("spark.graft.smallAppendCoalesceMaxBytes", "0")
    try TableStore.open(spark, dir, MultiLog.schema).append(
      first.map { case (a, s, p) => (a, s, MultiLog.bucketOf(a), p) }
        .toDF("addr", "seq", "bucket", "part")
        .repartitionByRange(3, col("part")),
      sortWithin = Seq("bucket", "addr", "seq"))
    finally spark.conf.unset("spark.graft.smallAppendCoalesceMaxBytes")
    mem.appendBatch(first.map(r => (r._1, r._2)).toDF("addr", "seq"))
    val merged = files(dir)
    assert(merged.length == 1 && !hasPageIndex(merged.head))
    val r = ParquetFileReader.open(
      FileIO.forPath(merged.head).inputFile(merged.head))
    try assert(r.getRowGroups.size == 3) finally r.close()
    val ml = MultiLog.open(spark, dir)
    // a second file: duplicates of the first commit and new low seqs
    val second = (0L until 30L).map(s => ("a", s * 3)) ++
      Seq("a" -> 1L, "a" -> 4L, "b" -> 3L, "b" -> 100L)
    ml.appendBatch(second.toDF("addr", "seq"))
    mem.appendBatch(second.toDF("addr", "seq"))

    checkLimits(dir, mem, Seq("a", "b", "d"))
    // the rewrite of a delete keeps duplicates too
    ml.delete("b")
    mem.delete("b")
    checkLimits(dir, mem, Seq("a", "b", "d"))
  }

  test("a forward sublog limit stays exact over the coalesce fallback " +
    "of an append, a delete rewrite and a minor fold, each of which " +
    "runs several sorted staged files into one row group") {
    val dir = tmpDir("ds-ml-fallback-")
    val mem = new MemMultiLog(spark)
    // every staged merge takes the Spark coalesce fallback
    spark.conf.set("spark.graft.segmentMergeDriverMaxBytes", "0")
    try {
      // three staged files of falling size (one per `part`): sublog
      // "a"'s highest seqs in the largest, its lowest in the smallest,
      // so a concatenation in name or in size order puts them out of
      // seq order
      val first = (50L until 300L).map(s => ("a", s, 0L)) ++
        (20L until 50L).flatMap(s => Seq(("a", s, 1L), ("b", s, 1L))) ++
        (0L until 20L).map(s => ("a", s, 2L))
      spark.conf.set("spark.graft.smallAppendCoalesceMaxBytes", "0")
      try TableStore.open(spark, dir, MultiLog.schema).append(
        first.map { case (a, s, p) => (a, s, MultiLog.bucketOf(a), p) }
          .toDF("addr", "seq", "bucket", "part")
          .repartitionByRange(3, col("part")),
        sortWithin = Seq("bucket", "addr", "seq"))
      finally spark.conf.unset("spark.graft.smallAppendCoalesceMaxBytes")
      mem.appendBatch(first.map(r => (r._1, r._2)).toDF("addr", "seq"))
      // one published file, written by Spark (the concat drops page
      // indexes), so the fallback ran
      def oneSparkFile(): Unit = {
        val fs = files(dir)
        assert(fs.length == 1 && hasPageIndex(fs.head), fs)
      }
      oneSparkFile()
      checkLimits(dir, mem, Seq("a", "b"))

      val ml = MultiLog.open(spark, dir)
      val low = Seq("a" -> 1L, "a" -> 400L, "b" -> 3L, "c" -> 7L)
      ml.appendBatch(low.toDF("addr", "seq"))
      mem.appendBatch(low.toDF("addr", "seq"))
      // the delete rewrite reads both files back as two staged files
      ml.delete("c")
      mem.delete("c")
      oneSparkFile()
      checkLimits(dir, mem, Seq("a", "b", "c"))

      // a minor fold range-partitions several small segments
      val more = (300L until 310L).map(s => "a" -> s) :+ ("b" -> 0L)
      ml.appendBatch(more.toDF("addr", "seq"))
      mem.appendBatch(more.toDF("addr", "seq"))
      assert(TableStore.open(spark, dir, MultiLog.schema)
        .compactSmall(Seq("bucket", "addr", "seq"), targetPartitions = 4))
      oneSparkFile()
      checkLimits(dir, mem, Seq("a", "b"))
    } finally spark.conf.unset("spark.graft.segmentMergeDriverMaxBytes")
  }

  private val limited: Seq[Seq[QuerySpec]] = Seq(
    Seq(Limit(5)), Seq(Gt(3), Limit(7)), Seq(Gte(10), Lt(14)), Seq(Lt(4)),
    Seq(Limit(0)), Seq(Gte(58), Limit(10)), Seq(Gte(200), Limit(3)),
    Seq(Lte(2), Limit(100)))

  /** Forward and limited sublog queries on a fresh driver handle (no
    * job) agree with `mem` and with the job path of a bound-0 handle. */
  private def checkLimits(dir: String, mem: MemMultiLog,
      addrs: Seq[String]): Unit = {
    val job = new MultiLog(spark, dir, 0L)
    val driver = MultiLog.open(spark, dir)
    for (addr <- addrs; base <- limited; wrap <- Seq(false, true)) {
      val specs = if (wrap) base :+ SeqWrap(true) else base
      var d = Seq.empty[Row]
      assert(jobsDuring { d = rows(driver.sublog(addr).query(specs: _*)) } == 0)
      assert(d == rows(mem.sublog(addr).query(specs: _*)), s"$addr $specs")
      assert(d == rows(job.sublog(addr).query(specs: _*)), s"$addr $specs")
    }
  }

  test("compact and delete drop the shared readers of the files they " +
    "delete; driver reads answer from the new files") {
    val kvDir = tmpDir("ds-inv-kv-")
    val kv = KVIndex.open(spark, kvDir)
    kv.set("a", "1")
    kv.set("b", "2")
    assert(kv.get("a").contains("1"))
    val kvOld = files(kvDir)
    assert(kvOld.forall(DirectRead.isCached))
    kv.compact()
    assert(kvOld.forall(f => !DirectRead.isCached(f) && !FileIO.forPath(f).exists(f)))
    var v: Option[String] = None
    assert(jobsDuring { v = kv.get("b") } == 0)
    assert(v.contains("2") && files(kvDir).forall(DirectRead.isCached))

    val mlDir = tmpDir("ds-inv-ml-")
    val ml = MultiLog.open(spark, mlDir)
    ml.append("x", 1L)
    ml.append("y", 2L)
    assert(ml.sublog("x").seq == 0L && ml.sublog("y").seq == 0L)
    val mlOld = files(mlDir)
    assert(mlOld.forall(DirectRead.isCached))
    ml.delete("x")
    assert(mlOld.forall(f => !DirectRead.isCached(f) && !FileIO.forPath(f).exists(f)))
    var got = (0L, 0L, true)
    assert(jobsDuring {
      got = (ml.sublog("x").seq, ml.sublog("y").get(0), ml.has("x"))
    } == 0)
    assert(got == ((-1L, 2L, false)))
  }
}
