package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage.{FileIO, Manifest, ParquetLog, TableStore}

/** Round-21 optimization vectors for the storage commit path:
  *
  *   - ParquetLog small-append merge is now a DRIVER-SIDE row-group
  *     copy (no second Spark job) — the merged files have no parquet
  *     page indexes, so point reads must succeed through DirectRead's
  *     whole-row-group fallback and stay exact;
  *   - the dense-seq integrity gate verifies (not assumes) that the
  *     count-then-stamp jobs produced exactly [base, base+n-1],
  *     including over shuffled inputs (VERDICT r20 #10);
  *   - `spark.graft.segmentTargetFileBytes = 0` = documented
  *     merge-free mode (the old code divided by the knob and threw);
  *   - TableStore.append coalesces a small batch's write job instead
  *     of scheduling one task per input partition;
  *   - segment BYTES ride the manifest from commit, so planning an
  *     N-segment store issues zero per-file stat calls, and manifests
  *     written before the field existed still load (stat fallback).
  */
class SegmentMergeSpec extends SparkSpec {

  private val kvSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  test("log small append: multi-partition batches merge driver-side; " +
      "scans, point reads and fsck stay exact") {
    val dir = tmpDir("sm-log-") + "/log"
    // disable the tiny-batch coalesce so the append actually stages 8
    // files and the ROW-GROUP CONCAT path (the thing under test) runs
    spark.conf.set("spark.graft.smallAppendCoalesceMaxBytes", "0")
    val log = try ParquetLog.open(spark, dir, LongType)
    finally spark.conf.unset("spark.graft.smallAppendCoalesceMaxBytes")
    (0 until 3).foreach { b =>
      log.append(
        spark.range(b * 1000L, b * 1000L + 1000L)
          .repartition(8).select(col("id").as("value")))
    }
    val m = Manifest.load(dir).get
    assert(m.segments.length == 3,
      s"each commit must fold its 8 staged files into one segment, " +
        s"got ${m.segments.map(_.path)}")
    assert(m.segments.forall(_.bytes.exists(_ > 0L)),
      "commit must record segment bytes in the manifest")
    assert(log.seq == 2999L)
    val rows = log.toDF.select("seq", "value").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == (0L until 3000L).toSet, "seqs must be dense")
    assert(rows.values.toSeq.sorted == (0L until 3000L),
      "every appended value must survive the merge exactly once")
    // point reads through the merged (page-index-less) files: the
    // DirectRead whole-row-group fallback must return the exact row
    Seq(0L, 1L, 999L, 1000L, 1500L, 2999L).foreach { s =>
      val r = log.get(s)
      assert(r.getLong(0) == s && r.getLong(1) == rows(s),
        s"point read of seq $s diverged from the scan")
    }
    val got = log.getMany(Seq(5L, 1005L, 2005L))
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(5L -> rows(5L), 1005L -> rows(1005L), 2005L -> rows(2005L)))
    assert(log.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
  }

  test("dense-seq integrity: a SHUFFLED input frame appends dense, " +
      "unique seqs (the two-pass stamping contract, verified)") {
    val dir = tmpDir("sm-dense-") + "/log"
    // keep the multi-partition stamping in play (no tiny-batch
    // coalesce): the per-partition offsets themselves are under test
    spark.conf.set("spark.graft.smallAppendCoalesceMaxBytes", "0")
    val log = try ParquetLog.open(spark, dir, LongType)
    finally spark.conf.unset("spark.graft.smallAppendCoalesceMaxBytes")
    // a genuine exchange (aggregate) feeding append: the write job
    // must stamp the partitions the count job counted
    val shuffled = spark.range(0L, 5000L)
      .groupBy((col("id") % 17L).as("g")).agg(sum("id").as("s"))
      .select((col("g") * 1000000L + col("s")).as("value"))
    log.append(shuffled)
    val seqs = log.toDF.select("seq").collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq == (0L until 17L),
      s"17 groups must stamp seqs 0..16 densely, got ${seqs.toSeq}")
  }

  test("append of a RANGE-EXCHANGE-fed (orderBy) frame loses nothing " +
      "— the r20 silent-truncation shape") {
    // the r20 two-execution stamping committed 31,198 of 100,000 rows
    // on exactly this shape at sf0.1/local[32]: the count and write
    // executions AQE-coalesced the sort's shuffle differently and the
    // offset inner join dropped the unmatched partitions. Every
    // job-path append now counts and stamps over one shared
    // queryExecution.toRdd lineage, and the pre-commit dense-seq gate
    // verifies density before the commit.
    val dir = tmpDir("sm-sorted-") + "/log"
    val log = ParquetLog.open(spark, dir, LongType)
    val sorted = spark.range(0L, 60000L)
      .select((col("id") * 7919L % 60000L).as("k"))
      .orderBy("k").select(col("k").as("value"))
    log.append(sorted)
    assert(log.seq == 59999L, s"append truncated: maxSeq ${log.seq}")
    assert(log.toDF.count() == 60000L)
  }

  test("append of an orderBy-fed STRUCT-valued frame stamps every value " +
      "intact — the shared-lineage stamp copies what it stamps") {
    // a struct value read from an unsafe row views the scan's reused
    // buffer; the stamp copies it, so rows stay exact whatever
    // consumes them downstream
    val dir = tmpDir("sm-sorted-struct-") + "/log"
    val sorted = spark.range(0L, 20000L)
      .select((col("id") * 7919L % 20000L).as("k"))
      .orderBy("k")
      .select(struct(col("k"), concat(lit("s"), col("k").cast("string"))
        .as("name"), array(col("k"), col("k") + 1L).as("pair")).as("value"))
    val log = ParquetLog.open(spark, dir, sorted.schema.head.dataType)
    log.append(sorted)
    assert(log.seq == 19999L, s"append truncated: maxSeq ${log.seq}")
    val rows = log.toDF.select("seq", "value.k", "value.name", "value.pair")
      .collect()
    assert(rows.length == 20000)
    rows.foreach { r =>
      val k = r.getLong(1)
      assert(r.getString(2) == s"s$k" && r.getSeq[Long](3) == Seq(k, k + 1),
        s"seq ${r.getLong(0)} carries a torn value $r")
    }
    assert(rows.map(_.getLong(1)).sorted.toSeq == (0L until 20000L),
      "every struct must land exactly once")
    // an orderBy input stamps in sort order
    assert(rows.sortBy(_.getLong(0)).map(_.getLong(1)).toSeq == (0L until 20000L))
  }

  test("segmentTargetFileBytes = 0 is merge-free mode on both stores") {
    spark.conf.set("spark.graft.segmentTargetFileBytes", "0")
    try {
      val ldir = tmpDir("sm-nofold-") + "/log"
      val log = ParquetLog.open(spark, ldir, LongType)
      log.append(spark.range(0L, 800L).repartition(8)
        .select(col("id").as("value")))
      assert(Manifest.load(ldir).get.segments.length == 8,
        "merge-free mode must keep one file per input partition")
      assert(log.toDF.count() == 800L)

      val tdir = tmpDir("sm-nofold-t-")
      val st = TableStore.open(spark, tdir, kvSchema)
      st.append(spark.range(0L, 800L).repartition(8)
        .select(col("id").as("k"), col("id").as("v")))
      assert(Manifest.load(tdir).get.segments.length == 8)
      assert(st.read.count() == 800L)
    } finally spark.conf.unset("spark.graft.segmentTargetFileBytes")
  }

  test("table small append: a 32-partition micro-batch commits as one " +
      "segment with content intact") {
    val dir = tmpDir("sm-table-")
    val st = TableStore.open(spark, dir, kvSchema)
    (0 until 3).foreach { b =>
      st.append(spark.range(b * 2000L, b * 2000L + 2000L)
        .repartition(32)
        .select((col("id") % 97L).as("k"), col("id").as("v")))
    }
    val m = Manifest.load(dir).get
    assert(m.segments.length == 3,
      s"one segment per micro-batch commit, got ${m.segments.map(_.path)}")
    assert(m.segments.forall(_.bytes.exists(_ > 0L)))
    val vs = st.read.select("v").collect().map(_.getLong(0)).sorted
    assert(vs.toSeq == (0L until 6000L))
    // versioned reads through the connector still row-cut correctly
    assert(st.readAsOf(2L).count() == 4000L)
  }

  test("planning an N-segment store issues ZERO per-file stat calls " +
      "(segment bytes ride the manifest)") {
    val dir = tmpDir("sm-stats-")
    val st = TableStore.open(spark, dir, kvSchema)
    (0 until 6).foreach { b =>
      st.append(spark.range(b * 100L, b * 100L + 100L)
        .select(col("id").as("k"), col("id").as("v")))
    }
    val ldir = tmpDir("sm-stats-log-") + "/log"
    val log = ParquetLog.open(spark, ldir, LongType)
    (0 until 4).foreach(b => log.append(
      spark.range(b * 100L, b * 100L + 100L).select(col("id").as("value"))))
    val before = FileIO.sizeCalls.get()
    // connector plans: statistics + partition packing + execution
    assert(st.readAsOf(4L).count() == 400L)
    assert(spark.read.format("graft-table").load(dir).count() == 600L)
    assert(spark.read.format("graft-log").load(ldir)
      .agg(sum("seq")).collect()(0).getLong(0) == (0L until 400L).sum)
    assert(FileIO.sizeCalls.get() == before,
      s"planning stat'd files ${FileIO.sizeCalls.get() - before} times " +
        "— segment bytes must come from the manifest")
    // a small-segment fold JUDGES sizes from the manifest too: its
    // only stat calls are commit-time ones on the files it just wrote
    // (O(new files), never O(segments))
    val beforeFold = FileIO.sizeCalls.get()
    assert(st.compactSmall(Seq("k"), targetPartitions = 1))
    val foldCalls = FileIO.sizeCalls.get() - beforeFold
    assert(foldCalls <= 2L,
      s"compactSmall stat'd $foldCalls files — size judging must read " +
        "the manifest, stats only the files it writes")
    assert(st.read.count() == 600L)
  }

  test("pre-field manifests (no segment bytes) still load and plan " +
      "(stat fallback)") {
    val dir = tmpDir("sm-compat-")
    val st = TableStore.open(spark, dir, kvSchema)
    st.append(spark.range(0L, 50L).select(col("id").as("k"),
      col("id").as("v")))
    // strip the bytes field from the committed manifest — the exact
    // JSON shape every pre-r21 manifest has on disk
    val mp = Manifest.manifestPath(dir)
    val io = FileIO.forPath(dir)
    val stripped = io.readString(mp)
      .replaceAll(""",?\s*"bytes"\s*:\s*\d+""", "")
    io.writeAtomic(mp, stripped.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = Manifest.load(dir).get
    assert(m.segments.nonEmpty && m.segments.forall(_.bytes.isEmpty),
      "setup: bytes field must be absent")
    val st2 = TableStore.open(spark, dir, kvSchema)
    assert(st2.read.count() == 50L)
    assert(spark.read.format("graft-table").load(dir).count() == 50L)
  }
}
