package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.storage.ParquetLog

/** DataSourceV2 connector: manifest-scoped reads, seq-range segment
  * pruning at planning time, short-name registration. */
class GraftLogSourceSpec extends SparkSpec {

  private def mkLog(dir: String): ParquetLog = {
    import spark.implicits._
    val log = ParquetLog.open(spark, dir, IntegerType)
    // three appends -> at least three segments with known seq ranges
    log.appendValues((0 until 10).toSeq)
    log.appendValues((10 until 20).toSeq)
    log.appendValues((20 until 30).toSeq)
    log
  }

  test("format(graft-log) reads the committed table, ignoring stray files") {
    val dir = tmpDir("dsv2") + "/log"
    val log = mkLog(dir)
    // a file in data/ that no manifest lists must be invisible
    val seg = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(
      seg.toPath, new java.io.File(s"$dir/data/stray.parquet").toPath)

    val df = spark.read.format("graft-log").load(dir)
    assert(df.columns.toSeq == Seq("seq", "value", "nulled"))
    val got = df.orderBy("seq").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == (0L until 30L).map(s => (s, s.toInt)))
    assert(df.count() == log.toDF.count()) // stray file not double-read
  }

  test("struct values round-trip through the connector") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir("dsv2s") + "/log"
    val log = ParquetLog.open(spark, dir, StructType(Seq(
      StructField("_1", IntegerType), StructField("_2", StringType))))
    log.append(
      Seq((1, "a"), (2, "b")).toDF("_1", "_2")
        .select(struct(col("_1"), col("_2")).as("value")))
    val got = spark.read.format("graft-log").load(dir)
      .orderBy("seq")
      .select(col("value._1"), col("value._2"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b")))
  }

  test("streaming read: seq offsets deliver appends once, rewrites never re-deliver") {
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = tmpDir("dsv2str") + "/log"
    val log = ParquetLog.open(spark, dir, IntegerType)
    log.appendValues(Seq(0, 1, 2))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-log").load(dir)
      .writeStream
      .option("checkpointLocation", tmpDir("dsv2ck"))
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.orderBy("seq").collect().foreach(r => seen.add(r.getLong(0)))
        (): Unit
      }
      .start()
    try {
      q.processAllAvailable()
      assert(seen.asScala.toSeq == Seq(0L, 1L, 2L)) // catch-up
      // rewrite history: null + compact emit NEW FILES over old seqs.
      // A file-discovery stream would re-deliver; seq offsets must not.
      log.nullAt(1)
      log.compact()
      q.processAllAvailable()
      assert(seen.asScala.toSeq == Seq(0L, 1L, 2L), "re-delivery after rewrite")
      log.appendValues(Seq(3, 4))
      q.processAllAvailable()
      assert(seen.asScala.toSeq == Seq(0L, 1L, 2L, 3L, 4L)) // appends flow
    } finally q.stop()
  }

  test("streaming read resumes from the checkpointed seq offset") {
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = tmpDir("dsv2res") + "/log"
    val ckpt = tmpDir("dsv2resck")
    val log = ParquetLog.open(spark, dir, IntegerType)
    log.appendValues(Seq(0, 1))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-log").load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.orderBy("seq").collect().foreach(r => seen.add(r.getLong(0)))
          (): Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(seen.asScala.toSeq == Seq(0L, 1L))
    // append while no query is running; the restart must resume from
    // the checkpointed offset (deserializeOffset path) — no replay
    log.appendValues(Seq(2, 3))
    run()
    assert(seen.asScala.toSeq == Seq(0L, 1L, 2L, 3L), "replay or loss on resume")
  }

  test("reader survives a rewrite that replaces planned files mid-batch") {
    val dir = tmpDir("dsv2rw") + "/log"
    val log = mkLog(dir)
    // per-segment partitions (packing off) so the fallback's
    // no-duplication-across-siblings property is what's exercised
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir)
    // df.rdd materializes the physical plan: input partitions are now
    // pinned to the CURRENT manifest's files...
    val rdd = df.rdd
    assert(rdd.getNumPartitions ==
      graft.storage.Manifest.load(dir).get.segments.size)
    val planned = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // ...then a concurrent rewrite replaces them all before execution.
    log.compact()
    val survivors = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // the planned paths must actually be gone, or this tests nothing
    assert(planned.intersect(survivors).isEmpty,
      s"compaction left planned files in place: ${planned.intersect(survivors)}")
    val got = rdd.collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    // fallback re-resolves each partition's seq range from the new
    // manifest: exact rows, no duplicates across sibling partitions
    assert(got == (0L until 30L).map(s => (s, s.toInt)))
  }

  test("write path: fresh dense seqs in input order; nulled rows and overwrite refused") {
    val srcDir = tmpDir("dsv2w") + "/src"
    val log = mkLog(srcDir) // values 0..29, seqs 0..29
    log.nullAt(3)
    val dstDir = tmpDir("dsv2w") + "/dst"
    ParquetLog.open(spark, dstDir, IntegerType)
    val src = spark.read.format("graft-log").load(srcDir)

    // a nulled=true row is a mutation of the SOURCE's seq space — it
    // cannot be appended into another log, and must fail loudly
    val e = intercept[Exception] {
      src.write.format("graft-log").mode("append").save(dstDir)
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => t.getMessage != null && t.getMessage.contains("nulled")),
      s"expected a 'nulled' rejection, got: $e")

    src.where(!col("nulled"))
      .write.format("graft-log").mode("append").save(dstDir)
    val got = spark.read.format("graft-log").load(dstDir)
      .orderBy("seq").collect()
    // 29 survivors: dense 0-based seqs, source order preserved
    assert(got.map(_.getLong(0)).toSeq == (0L until 29L))
    assert(got.map(_.getInt(1)).toSeq == (0 until 30).filterNot(_ == 3))

    // a second append continues at the destination's tail
    src.where(col("seq") >= 28)
      .write.format("graft-log").mode("append").save(dstDir)
    val again = spark.read.format("graft-log").load(dstDir)
      .orderBy("seq").collect()
    assert(again.length == 31)
    assert(again.takeRight(2).map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((29L, 28), (30L, 29)))

    // append-only: overwrite is a capability error, not a data wipe
    intercept[Exception] {
      src.write.format("graft-log").mode("overwrite").save(dstDir)
    }
    assert(spark.read.format("graft-log").load(dstDir).count() == 31)
  }

  test("seq bounds prune whole segments at planning time") {
    val dir = tmpDir("dsv2p") + "/log"
    mkLog(dir)
    val segs = graft.storage.Manifest.load(dir).get.segments
    // packing off: partition counts below observe pruning per segment
    val all = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir)
    assert(all.rdd.getNumPartitions == segs.size) // one per segment file
    val bounded = all.where(col("seq") >= 12 && col("seq") <= 15)
    val overlap = segs.count(s => s.maxSeq >= 12 && s.minSeq <= 15)
    assert(overlap < segs.size, "fixture must have prunable segments")
    assert(bounded.rdd.getNumPartitions == overlap)
    assert(bounded.collect().map(_.getLong(0)).sorted.toSeq ==
      (12L to 15L).toSeq)
    // point lookup: exactly one segment holds seq 25 (disjoint ranges)
    val point = all.where(col("seq") === 25)
    assert(point.rdd.getNumPartitions == 1)
    assert(point.collect().map(_.getInt(1)).toSeq == Seq(25))
    // out-of-range: zero partitions planned
    assert(all.where(col("seq") > 1000).rdd.getNumPartitions == 0)
  }

  test("streaming write leg: log-to-log mirror, exactly-once across restart") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val srcDir = tmpDir("dsv2sw") + "/src"
    val dstDir = tmpDir("dsv2sw") + "/dst"
    val ckpt = tmpDir("dsv2swck")
    val src = ParquetLog.open(spark, srcDir, IntegerType)
    ParquetLog.open(spark, dstDir, IntegerType)
    src.appendValues(Seq(0, 1, 2))
    def run(): Unit = {
      val q = spark.readStream.format("graft-log").load(srcDir)
        .where(!col("nulled"))
        .writeStream.format("graft-log")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start(dstDir)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val got1 = spark.read.format("graft-log").load(dstDir)
      .orderBy("seq").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got1 == Seq((0L, 0), (1L, 1), (2L, 2)))
    // append while stopped; the restarted stream resumes from the
    // checkpoint and the sink's committed batch mark — no replay dup
    src.appendValues(Seq(3, 4))
    run()
    val got2 = spark.read.format("graft-log").load(dstDir)
      .orderBy("seq").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got2 == (0L until 5L).map(s => (s, s.toInt)),
      s"replay or loss across restart: $got2")
    // direct idempotence: re-delivering an already-committed batch id
    // must be a no-op (the Sink's crash-replay path)
    val dst = ParquetLog.open(spark, dstDir)
    val before = dst.seq
    val mark = dst.streamBatch.get
    dst.appendStream(mark, Seq(99).toDF("value"))
    assert(ParquetLog.open(spark, dstDir).seq == before, "replayed batch applied")
    // a NEW batch id still appends
    dst.appendStream(mark + 1, Seq(5).toDF("value"))
    assert(ParquetLog.open(spark, dstDir).seq == before + 1)
  }

  test("admission control: maxSeqsPerTrigger splits catch-up into bounded micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = tmpDir("dsv2ac") + "/log"
    val log = ParquetLog.open(spark, dir, IntegerType)
    log.appendValues((0 until 30).toSeq) // 30-row backlog before the stream starts
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream.format("graft-log")
      .option("maxSeqsPerTrigger", "10")
      .load(dir)
      .writeStream
      .option("checkpointLocation", tmpDir("dsv2acck"))
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.orderBy("seq").collect().map(_.getLong(0)).toSeq
        if (rows.nonEmpty) batches.add(rows)
        (): Unit
      }
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = batches.asScala.toSeq
      // the backlog must arrive in SEVERAL bounded batches, not one
      assert(got.size >= 3, s"expected >=3 micro-batches, got ${got.size}")
      assert(got.forall(_.size <= 10),
        s"a batch exceeded maxSeqsPerTrigger: ${got.map(_.size)}")
      // identical total delivery: every seq exactly once, in order
      assert(got.flatten == (0L until 30L).toSeq)
    } finally q.stop()
  }

  test("admission control: maxBytesPerTrigger admits whole segments within budget") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = tmpDir("dsv2ab") + "/log"
    val log = mkLog(dir)
    val segs = graft.storage.Manifest.load(dir).get.segments.sortBy(_.minSeq)
    val segBytes = segs
      .map(s => java.nio.file.Files.size(java.nio.file.Paths.get(dir, s.path)))
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    // budget of ~1.5 smallest segments -> a few whole segments per
    // batch, never the full backlog at once
    val q = spark.readStream.format("graft-log")
      .option("maxBytesPerTrigger", (segBytes.min * 3 / 2).toString)
      .load(dir)
      .writeStream
      .option("checkpointLocation", tmpDir("dsv2abck"))
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.orderBy("seq").collect().map(_.getLong(0)).toSeq
        if (rows.nonEmpty) batches.add(rows)
        (): Unit
      }
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = batches.asScala.toSeq
      // several batches, not one unbounded catch-up batch
      assert(got.size >= 2, s"expected >=2 micro-batches, got $got")
      // byte admission is whole-segment: every batch ends exactly at
      // a committed segment boundary
      val bounds = segs.map(_.maxSeq).toSet
      assert(got.forall(b => bounds.contains(b.last)),
        s"batch ended mid-segment: ${got.map(_.last)} not all in $bounds")
      assert(got.flatten == (0L until 30L).toSeq)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains a paced backlog fully, then stops itself") {
    // the production drain pattern: AvailableNow + admission control
    // must process the WHOLE backlog (in bounded batches) and
    // terminate — not stop at the first clamped offset
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = tmpDir("dsv2an") + "/log"
    val log = ParquetLog.open(spark, dir, IntegerType)
    log.appendValues((0 until 30).toSeq)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = spark.readStream.format("graft-log")
      .option("maxSeqsPerTrigger", "10")
      .load(dir)
      .writeStream
      .option("checkpointLocation", tmpDir("dsv2anck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count().toInt
        if (n > 0) batches.add(n)
        (): Unit
      }
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query did not stop")
      val got = batches.asScala.toList
      assert(got.sum == 30, s"backlog not fully drained: $got")
      assert(got.size >= 3 && got.forall(_ <= 10),
        s"batches not paced under AvailableNow: $got")
    } finally if (q.isActive) q.stop()
  }

  test("streaming sink refuses a NEW query's batches instead of skipping them") {
    // a fresh checkpoint restarts batch ids at 0; treating those as
    // replays of the PREVIOUS query's ids would silently drop data —
    // the log is bound to one query lineage and refuses loudly
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val srcDir = tmpDir("dsv2qb") + "/src"
    val dstDir = tmpDir("dsv2qb") + "/dst"
    val src = ParquetLog.open(spark, srcDir, IntegerType)
    ParquetLog.open(spark, dstDir, IntegerType)
    src.appendValues(Seq(0, 1, 2))
    def run(ckpt: String): Unit = {
      val q = spark.readStream.format("graft-log").load(srcDir)
        .where(!col("nulled"))
        .writeStream.format("graft-log")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start(dstDir)
      try q.processAllAvailable() finally q.stop()
    }
    run(tmpDir("dsv2qbck1"))
    assert(spark.read.format("graft-log").load(dstDir).count() == 3)
    // second, DIFFERENT query (fresh checkpoint): its batch 0 must
    // not be silently skipped as a replay — loud refusal instead
    val e = intercept[Exception] { run(tmpDir("dsv2qbck2")) }
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => t.getMessage != null &&
      t.getMessage.contains("bound to streaming query")),
      s"expected a query-binding refusal, got: $e")
    assert(spark.read.format("graft-log").load(dstDir).count() == 3,
      "refused query must not have written")
    // explicit rebind hands the log to the new lineage
    ParquetLog.open(spark, dstDir).releaseStreamBinding()
    run(tmpDir("dsv2qbck3"))
    // the new query re-reads the whole source: 3 + 3 rows, by choice
    assert(spark.read.format("graft-log").load(dstDir).count() == 6)
  }

  test("adjacent small segments pack into one partition by default") {
    val dir = tmpDir("dsv2pk") + "/log"
    mkLog(dir) // 3 tiny segments
    val segs = graft.storage.Manifest.load(dir).get.segments
    assert(segs.size >= 3)
    // default maxPartitionBytes (128 MB) swallows all three files
    val packed = spark.read.format("graft-log").load(dir)
    assert(packed.rdd.getNumPartitions == 1,
      s"expected 1 packed partition, got ${packed.rdd.getNumPartitions}")
    assert(packed.orderBy("seq").collect().map(_.getInt(1)).toSeq ==
      (0 until 30))
    // pruning composes with packing: a bound that survives only one
    // segment plans one partition with exactly that segment's rows
    val bounded = packed.where(col("seq") >= 12 && col("seq") <= 15)
    assert(bounded.rdd.getNumPartitions == 1)
    assert(bounded.collect().map(_.getLong(0)).sorted.toSeq == (12L to 15L))
    // explicit option turns packing off
    val perSeg = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir)
    assert(perSeg.rdd.getNumPartitions == segs.size)
  }

  // one ~250 KB segment with many small row groups (the miniature of
  // a multi-GB compacted segment, which without splits is ONE task)
  private def mkOversized(dir: String): ParquetLog = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 16 * 1024)
    try {
      val log = ParquetLog.open(spark, dir, IntegerType)
      log.append(
        spark.range(20000)
          .select(col("id").cast(IntegerType).as("value")).coalesce(1))
      log
    } finally {
      if (prev == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prev)
    }
  }

  test("an oversized segment splits into row-group-aligned partitions") {
    val dir = tmpDir("dsv2sp") + "/log"
    mkOversized(dir)
    assert(graft.storage.Manifest.load(dir).get.segments.size == 1)
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "32768").load(dir)
    val nParts = df.rdd.getNumPartitions
    assert(nParts > 1, s"oversized segment did not split: $nParts partition(s)")
    // splits keep the vectorized path (range-limited decode)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // exact rows — sibling splits neither duplicate nor drop
    assert(df.collect().map(_.getInt(1)).sorted.toSeq == (0 until 20000))
    // row-leg A/B over the same split plan
    spark.conf.set("spark.graft.columnar.enabled", "false")
    try {
      val row = spark.read.format("graft-log")
        .option("maxPartitionBytes", "32768").load(dir)
      assert(!row.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(row.rdd.getNumPartitions == nParts)
      assert(row.collect().map(_.getInt(1)).sorted.toSeq == (0 until 20000))
    } finally spark.conf.unset("spark.graft.columnar.enabled")
    // seq pruning composes with splits
    val bounded = df.where(col("seq") >= 5000 && col("seq") < 6000)
    assert(bounded.collect().map(_.getLong(0)).sorted.toSeq ==
      (5000L until 6000L))
  }

  test("split partitions survive a rewrite via exact per-split seq bounds") {
    val dir = tmpDir("dsv2sprw") + "/log"
    val log = mkOversized(dir)
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "32768").load(dir)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val rdd = df.rdd // plan commits to split partitions...
    assert(rdd.getNumPartitions > 1)
    log.nullAt(7) // ...then a rewrite replaces the planned file
    // every split falls back to the CURRENT manifest cut by its OWN
    // exact seq bounds: union is exact, no duplicates across siblings
    val got = rdd.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1),
        r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(got.length == 20000, s"expected 20000 rows, got ${got.length}")
    assert(got(7) == ((7L, -1, true)))
    assert(got.filter(_._1 != 7L).forall {
      case (s, v, n) => v == s.toInt && !n
    })
  }

  test("default packing targets session parallelism like the file source") {
    // no maxPartitionBytes option: the packing target is one core's
    // share of the real file bytes, min(maxPartitionBytes,
    // max(openCost, totalBytes/cores)), with no open-cost padding per
    // file — so a mid-size scan fans out instead of planning one fat
    // pack (shrinking openCost below totalBytes/cores makes the 250 KB
    // fixture "mid-size" here)
    val dir = tmpDir("dsv2par") + "/log"
    mkOversized(dir)
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      val df = spark.read.format("graft-log").load(dir)
      val n = df.rdd.getNumPartitions
      assert(n > 1, s"default plan did not fan out: $n partition(s)")
      assert(df.collect().map(_.getInt(1)).sorted.toSeq == (0 until 20000))
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
    // tiny logs still pack to ONE partition under the default
    // openCost floor (the packing contract pinned above)
    val tiny = tmpDir("dsv2par2") + "/log"
    mkLog(tiny)
    assert(spark.read.format("graft-log").load(tiny)
      .rdd.getNumPartitions == 1)
  }

  test("column pruning reaches the connector scan (and the page reads)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = tmpDir("dsv2cp") + "/log"
    mkLog(dir)
    def scanSchema(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val scans = df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }
      assert(scans.size == 1)
      scans.head.scan.readSchema().fieldNames.toSeq
    }
    val all = spark.read.format("graft-log").load(dir)
    // projection prunes: only the requested columns reach the scan
    assert(scanSchema(all.select("value")) == Seq("value"))
    assert(scanSchema(all.select("seq")) == Seq("seq"))
    // EXACT bound pushdown: no residual re-filter, so Spark prunes
    // seq from the read even for a bounded projection (the reader
    // enforces the cut — positionally on the vectorized path)
    val filtered = all.where(col("seq") >= 12 && col("seq") <= 15).select("value")
    assert(scanSchema(filtered) == Seq("value"))
    // values still correct through every pruned shape
    assert(all.select("value").collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 30))
    assert(filtered.collect().map(_.getInt(0)).sorted.toSeq == (12 to 15))
    // seq dropped from the read entirely: count-only scan
    assert(all.select("value").where(col("value") < 5).count() == 5)
  }

  test("columnar batch reads: vectorized path on, identical rows to the row path") {
    val dir = tmpDir("dsv2col") + "/log"
    mkLog(dir)
    val df = spark.read.format("graft-log").load(dir).select("seq", "value")
    // the batch plan commits to columnar: ColumnarToRow above the scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"atomic-typed batch scan should be vectorized:\n$plan")
    val viaColumnar = df.collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    // A/B the session toggle: row path plans no ColumnarToRow and
    // returns the identical rows
    spark.conf.set("spark.graft.columnar.enabled", "false")
    try {
      val rowDf = spark.read.format("graft-log").load(dir).select("seq", "value")
      val rowPlan = rowDf.queryExecution.executedPlan.toString
      assert(!rowPlan.contains("ColumnarToRow"),
        s"toggle off must force the row reader:\n$rowPlan")
      assert(rowDf.collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq == viaColumnar)
    } finally spark.conf.unset("spark.graft.columnar.enabled")
    assert(viaColumnar == (0L until 30L).map(s => (s, s.toInt)))
  }

  test("columnar gate: datetime parts, reversed and _ver-cut partitions stay on the row path; structs, arrays, maps and seq cuts are columnar") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // STRUCT value (the engine's dominant shape) rides the vectorized
    // path — nested column decode + recursive repack both handle it
    val dir = tmpDir("dsv2colg") + "/log"
    val log = ParquetLog.open(spark, dir, StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType))))
    log.append(Seq((1, "x"), (2, "y")).toDF("a", "b")
      .select(struct(col("a"), col("b")).as("value")))
    val df = spark.read.format("graft-log").load(dir)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "struct values should be vectorized")
    assert(df.select("value.a").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(df.select("value").collect().map(_.getStruct(0).getString(1)).sorted.toSeq
      == Seq("x", "y"))
    // ARRAY-of-atomics value (an embedding log) is vectorized too
    val adir = tmpDir("dsv2cola") + "/log"
    val alog = ParquetLog.open(spark, adir, ArrayType(FloatType))
    alog.append(Seq(Seq(1f, 2f), Seq(3f), Seq.empty[Float]).toDF("value"))
    val adf = spark.read.format("graft-log").load(adir)
    assert(adf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "array<atomic> values should be vectorized")
    assert(adf.select("value").collect()
      .map(_.getSeq[Float](0).sum).sorted.toSeq == Seq(0f, 3f, 3f))
    // MAP values are vectorized too (round 11: keys+values repack
    // into the two map children; nesting composes arbitrarily —
    // only datetime/decimal parts keep a schema on the row path)
    val mdir = tmpDir("dsv2colm") + "/log"
    val mlog = ParquetLog.open(spark, mdir, MapType(StringType, IntegerType))
    mlog.append(Seq(Map("k" -> 1)).toDF("value"))
    val mdf = spark.read.format("graft-log").load(mdir)
    assert(mdf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "map<atomic,atomic> values should be vectorized")
    assert(mdf.select("value").collect()
      .map(_.getMap[String, Int](0)("k")).toSeq == Seq(1))
    // a seq range cut stays COLUMNAR (dense seqs → positional slice);
    // a reversed (top-N desc) partition is the row path; a `_ver` cut
    // (not dense per row) is the row path
    val fac = new graft.sources.GraftLogReaderFactory(
      StructType(Seq(StructField("seq", LongType))))
    val cut = graft.sources.LogSegmentPartition(dir, Nil, 0, 1, loSeq = 1)
    assert(fac.supportColumnarReads(cut))
    assert(!fac.supportColumnarReads(cut.copy(reversed = true)))
    val verFac = new graft.sources.GraftLogReaderFactory(
      StructType(Seq(StructField("_ver", LongType))), filterCol = "_ver")
    assert(!verFac.supportColumnarReads(cut))
    // ...unless the cut is implied by the planner's file selection
    // (table streams: whole in-range versions) — then columnar is fine
    assert(verFac.supportColumnarReads(cut.copy(cutImplied = true)))
    // wide-open bounds + atomic schema → columnar on both
    val wide = graft.sources.LogSegmentPartition(dir, Nil, 0, 1)
    assert(fac.supportColumnarReads(wide))
    assert(verFac.supportColumnarReads(wide))
  }

  test("struct values: sliced boundary batches and the repack fallback both exact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir("dsv2colsl") + "/log"
    val log = ParquetLog.open(spark, dir, StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType))))
    (0 until 3).foreach { k =>
      log.append((k * 10 until (k + 1) * 10)
        .map(i => (i, if (i % 7 == 0) null else s"s$i")).toDF("a", "b")
        .select(struct(col("a"), col("b")).as("value")))
    }
    log.nullAt(12) // null struct row through every path
    def expected(r: Range) = r.map { i =>
      if (i == 12) (i.toLong, None)
      else (i.toLong, Some((i, if (i % 7 == 0) null else s"s$i")))
    }.toSeq
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getLong(0)).map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None
          else Some((r.getStruct(1).getInt(0), r.getStruct(1).getString(1))))
      }.toSeq
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir).select("seq", "value")
    // bounded scan: struct children read through sliced offset views
    val bounded = df.where(col("seq") >= 7 && col("seq") <= 23)
    assert(bounded.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(got(bounded) == expected(7 to 23))
    // rewrite after the plan committed to columnar: struct repack leg
    val all = df
    assert(all.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val rdd = all.rdd
    log.compact()
    assert(rdd.collect().sortBy(_.getLong(0)).map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None
        else Some((r.getStruct(1).getInt(0), r.getStruct(1).getString(1))))
    }.toSeq == expected(0 until 30))
  }

  test("array values: sliced boundary batches and the repack fallback both exact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir("dsv2colasl") + "/log"
    val log = ParquetLog.open(spark, dir, ArrayType(FloatType))
    (0 until 3).foreach { k =>
      log.append((k * 10 until (k + 1) * 10)
        .map(i => Seq.tabulate(i % 4)(j => (i + j).toFloat)).toDF("value"))
    }
    def expect(r: Range) =
      r.map(i => (i.toLong, Seq.tabulate(i % 4)(j => (i + j).toFloat))).toSeq
    def got(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getLong(0)).map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir).select("seq", "value")
    val bounded = df.where(col("seq") >= 7 && col("seq") <= 23)
    assert(bounded.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(got(bounded.collect()) == expect(7 to 23))
    val rdd = df.rdd // plan committed columnar before the rewrite
    log.compact()
    assert(got(rdd.collect().toArray) == expect(0 until 30))
  }

  test("map values: null, empty, sliced boundary batches and the repack fallback all exact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir("dsv2colmsl") + "/log"
    val log = ParquetLog.open(spark, dir, MapType(StringType, IntegerType))
    (0 until 3).foreach { k =>
      log.append((k * 10 until (k + 1) * 10)
        .map(i => (0 until i % 4).map(j => s"k$j" -> (i + j)).toMap)
        .toDF("value"))
    }
    log.nullAt(12) // null map row through every path (i%4==0 ⇒ empty maps)
    def expect(r: Range) = r.map { i =>
      if (i == 12) (i.toLong, None)
      else (i.toLong, Some((0 until i % 4).map(j => s"k$j" -> (i + j)).toMap))
    }.toSeq
    def got(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getLong(0)).map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getMap[String, Int](1).toMap))
      }.toSeq
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir).select("seq", "value")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // bounded scan: boundary batches sliced through the offset view
    val bounded = df.where(col("seq") >= 7 && col("seq") <= 23)
    assert(got(bounded.collect()) == expect(7 to 23))
    // rewrite after the plan committed to columnar: map repack leg
    val rdd = df.rdd
    log.compact()
    assert(got(rdd.collect().toArray) == expect(0 until 30))
  }

  test("struct-with-map-field values: the composed columnar shape " +
      "(null struct, null/empty map field, sliced, repack) all exact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // admitting map<atomic,atomic> flips struct{..., m: map} columnar
    // TOO (struct admission recurses) — this composition exercises
    // nested vectorized decode, writeValue struct→map recursion,
    // putNullDeep over a struct with a map child, and the struct
    // offset-view's child getMap on sliced boundary batches
    val dir = tmpDir("dsv2colsm") + "/log"
    val log = ParquetLog.open(spark, dir, StructType(Seq(
      StructField("a", IntegerType),
      StructField("m", MapType(StringType, IntegerType)))))
    def mkMap(i: Int): Map[String, Int] =
      if (i % 5 == 0) null // null map FIELD inside a live struct
      else (0 until i % 3).map(j => s"k$j" -> (i + j)).toMap
    (0 until 3).foreach { k =>
      log.append((k * 10 until (k + 1) * 10)
        .map(i => (i, mkMap(i))).toDF("a", "m")
        .select(struct(col("a"), col("m")).as("value")))
    }
    log.nullAt(12) // null STRUCT row (its map child slot must stay defined)
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir).select("seq", "value")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "struct-with-map-field should be vectorized")
    def expect(r: Range) = r.map { i =>
      if (i == 12) (i.toLong, None)
      else (i.toLong, Some((i, Option(mkMap(i)))))
    }.toSeq
    def got(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getLong(0)).map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None
          else {
            val st = r.getStruct(1)
            Some((st.getInt(0),
              if (st.isNullAt(1)) Option.empty[Map[String, Int]]
              else Some(st.getMap[String, Int](1).toMap)))
          })
      }.toSeq
    val bounded = df.where(col("seq") >= 7 && col("seq") <= 23)
    assert(got(bounded.collect()) == expect(7 to 23))
    val rdd = df.rdd // plan committed columnar before the rewrite
    log.compact()
    assert(got(rdd.collect().toArray) == expect(0 until 30))
  }

  test("array<struct> and nested-array values: deep repack + slicing " +
      "exact (round 11: the nesting ladder closed)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // array<struct<a int, s string>> — the realistic deep shape (an
    // annotations/spans column); exercises appendStruct(false) field
    // recursion, appendStruct(true) child alignment on null elements,
    // and ColumnarArray's self-contained slice reads
    val dir = tmpDir("dsv2colas") + "/log"
    val elemT = StructType(Seq(
      StructField("a", IntegerType), StructField("s", StringType)))
    val log = ParquetLog.open(spark, dir, ArrayType(elemT))
    def mkArr(i: Int): Seq[(Integer, String)] =
      (0 until i % 4).map { j =>
        if ((i + j) % 5 == 0) null // null struct ELEMENT
        else (Integer.valueOf(i + j),
          if ((i + j) % 3 == 0) null else s"s${i + j}") // null field
      }
    (0 until 3).foreach { k =>
      log.append((k * 10 until (k + 1) * 10)
        .map(i => Tuple1(mkArr(i))).toDF("value"))
    }
    log.nullAt(12) // null ARRAY row
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir).select("seq", "value")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "array<struct> should be vectorized")
    def expect(r: Range) = r.map { i =>
      if (i == 12) (i.toLong, None)
      else (i.toLong, Some(mkArr(i).map(Option(_)
        .map { case (a, s) => (a.intValue, Option(s)) }).toList))
    }.toSeq
    def got(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getLong(0)).map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None
          else Some(r.getSeq[org.apache.spark.sql.Row](1).map(e =>
            Option(e).map(st => (st.getInt(0), Option(st.getString(1)))))
            .toList))
      }.toSeq
    val bounded = df.where(col("seq") >= 7 && col("seq") <= 23)
    assert(got(bounded.collect()) == expect(7 to 23))
    val rdd = df.rdd // plan committed columnar before the rewrite
    log.compact()
    assert(got(rdd.collect().toArray) == expect(0 until 30))

    // array<array<float>> — nested appendArray offsets compose; NULL
    // INNER arrays exercise appendAt's null branch on an array-typed
    // child (the offsets must stay untouched for a null slot)
    val dir2 = tmpDir("dsv2colaa") + "/log"
    val log2 = ParquetLog.open(spark, dir2, ArrayType(ArrayType(FloatType)))
    def mkNest(i: Int): Seq[Seq[Float]] =
      (0 until i % 3).map { j =>
        if ((i + j) % 5 == 0) null // null inner array element
        else (0 until (i + j) % 4).map(k => (i + j + k).toFloat)
      }
    (0 until 2).foreach { k =>
      log2.append((k * 8 until (k + 1) * 8)
        .map(i => Tuple1(mkNest(i))).toDF("value"))
    }
    val df2 = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir2).select("seq", "value")
    assert(df2.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    def asList(n: Seq[Seq[Float]]) =
      n.map(x => Option(x).map(_.toList)).toList
    def got2(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getLong(0)).map(r =>
        (r.getLong(0), r.getSeq[scala.collection.Seq[Float]](1)
          .map(x => Option(x).map(_.toList)).toList)).toSeq
    assert(got2(df2.where(col("seq") >= 3 && col("seq") <= 12).collect())
      == (3 to 12).map(i => (i.toLong, asList(mkNest(i)))))
    val rdd2 = df2.rdd
    log2.compact()
    assert(got2(rdd2.collect().toArray)
      == (0 until 16).map(i => (i.toLong, asList(mkNest(i)))))

    // map<string, struct<a int, s string>> — struct-valued maps: the
    // keys/values lockstep with appendStruct on the VALUES child,
    // null struct values, sliced reads, and the repack leg
    val dir3 = tmpDir("dsv2colms") + "/log"
    val log3 = ParquetLog.open(spark, dir3, MapType(StringType, elemT))
    def mkSMap(i: Int): Map[String, (Integer, String)] =
      (0 until i % 3).map { j =>
        s"k$j" -> (if ((i + j) % 5 == 0) null // null struct VALUE
          else (Integer.valueOf(i + j),
            if ((i + j) % 3 == 0) null else s"v${i + j}"))
      }.toMap
    (0 until 3).foreach { k =>
      log3.append((k * 10 until (k + 1) * 10)
        .map(i => Tuple1(mkSMap(i))).toDF("value"))
    }
    log3.nullAt(12)
    val df3 = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir3).select("seq", "value")
    assert(df3.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "map<string,struct> should be vectorized")
    def expect3(r: Range) = r.map { i =>
      if (i == 12) (i.toLong, None)
      else (i.toLong, Some(mkSMap(i).view.mapValues(v =>
        Option(v).map { case (a, s) => (a.intValue, Option(s)) }).toMap))
    }.toSeq
    def got3(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getLong(0)).map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None
          else Some(r.getMap[String, org.apache.spark.sql.Row](1).toMap
            .view.mapValues(e => Option(e)
              .map(st => (st.getInt(0), Option(st.getString(1))))).toMap))
      }.toSeq
    assert(got3(df3.where(col("seq") >= 7 && col("seq") <= 23).collect())
      == expect3(7 to 23))
    val rdd3 = df3.rdd
    log3.compact()
    assert(got3(rdd3.collect().toArray) == expect3(0 until 30))
  }

  test("columnar gate admits only types the ROW leg also handles") {
    import org.apache.spark.sql.types._
    import graft.storage.SegmentBatches
    // The columnar path has two safety valves — the A/B toggle and the
    // concurrent-rewrite RowRepackReader — and BOTH run the parquet-mr
    // row converter. A type the row leg throws on must therefore never
    // pass the columnar gate, however well the vectorized decoder
    // handles it. Round 13 closed the last gap: Date/Timestamp(/NTZ)/
    // Decimal are admitted on BOTH legs at every nesting level, so
    // only genuinely unconvertible types (CalendarInterval, variant…)
    // remain row-refused.
    def one(dt: DataType) = StructType(Seq(StructField("v", dt)))
    for (dt <- Seq(DateType, TimestampType, TimestampNTZType,
        DecimalType(5, 2), DecimalType(10, 2), DecimalType(22, 4))) {
      assert(SegmentBatches.supported(one(dt)), s"$dt should be columnar")
      assert(graft.storage.SegmentRecords.supported(one(dt)),
        s"columnar admitted $dt but the row fallback cannot convert it")
    }
    assert(!SegmentBatches.supported(one(CalendarIntervalType)))
    // nesting composes arbitrarily (round 11 closed the ladder);
    // datetime/decimal parts are columnar at ANY level too (round 13)
    assert(SegmentBatches.supported(one(MapType(StringType, IntegerType))))
    assert(SegmentBatches.supported(
      one(MapType(StringType, StructType(Seq(StructField("x", IntegerType)))))))
    assert(SegmentBatches.supported(
      one(ArrayType(StructType(Seq(StructField("x", StringType)))))))
    assert(SegmentBatches.supported(one(ArrayType(ArrayType(FloatType)))))
    assert(SegmentBatches.supported(one(MapType(DateType, IntegerType))))
    assert(SegmentBatches.supported(one(MapType(StringType, TimestampType))))
    assert(SegmentBatches.supported(
      one(ArrayType(StructType(Seq(StructField("t", TimestampType)))))))
    assert(SegmentBatches.supported(
      one(MapType(StringType, DecimalType(22, 4)))))
    for (dt <- Seq(BooleanType, ByteType, ShortType, IntegerType, LongType,
        FloatType, DoubleType, StringType, BinaryType)) {
      assert(SegmentBatches.supported(one(dt)))
      assert(graft.storage.SegmentRecords.supported(one(dt)),
        s"columnar admitted $dt but the row fallback cannot convert it")
    }
    // end-to-end: a timestamp-valued log PLANS ColumnarToRow and the
    // vectorized leg serves exact values; the A/B row leg agrees
    import spark.implicits._
    val dir = tmpDir("dsv2colts") + "/log"
    val log = ParquetLog.open(spark, dir,
      StructType(Seq(StructField("t", TimestampType))))
    log.append(Seq(1000000L, 2000000L).toDF("us")
      .select(timestamp_micros(col("us")).as("value")))
    val df = spark.read.format("graft-log").load(dir)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "timestamp values should be vectorized now")
    assert(df.select("value").collect()
      .map(_.getTimestamp(0).getTime).sorted.toSeq == Seq(1000L, 2000L))
    spark.conf.set("spark.graft.columnar.enabled", "false")
    try
      assert(spark.read.format("graft-log").load(dir).select("value")
        .collect().map(_.getTimestamp(0).getTime).sorted.toSeq
        == Seq(1000L, 2000L))
    finally spark.conf.unset("spark.graft.columnar.enabled")
  }

  test("datetime/decimal values: columnar decode, nulls, slices and the repack fallback all exact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // struct<d: date, t: timestamp, m: decimal(10,2), w: decimal(22,4)>
    // covers the decimal int/long tier AND the unscaled-bytes tier,
    // with per-field nulls and a nulled row, through: plain columnar
    // drain, a mid-batch seq cut (sliced offset views), and the
    // post-rewrite RowRepackReader leg
    val dir = tmpDir("dsv2coldt") + "/log"
    val valueType = StructType(Seq(
      StructField("d", DateType), StructField("t", TimestampType),
      StructField("m", DecimalType(10, 2), nullable = true),
      StructField("w", DecimalType(22, 4), nullable = true)))
    val log = ParquetLog.open(spark, dir, valueType)
    (0 until 3).foreach { k =>
      log.append((k * 10 until (k + 1) * 10).toDF("i").select(struct(
        date_add(lit("2024-01-01").cast("date"), col("i")).as("d"),
        timestamp_micros(col("i") * 1000000L).as("t"),
        when(col("i") % 7 =!= 0,
          (col("i").cast("decimal(8,0)") * 0.25).cast("decimal(10,2)")).as("m"),
        (col("i").cast("decimal(18,0)") * lit("1000000000.0001")
          .cast("decimal(22,4)")).cast("decimal(22,4)").as("w")
      ).as("value")))
    }
    log.nullAt(12)
    def expected(r: Range) = r.map { i =>
      if (i == 12) (i.toLong, None)
      else (i.toLong, Some((
        java.time.LocalDate.of(2024, 1, 1).plusDays(i).toString,
        i * 1000L,
        if (i % 7 == 0) null
        else new java.math.BigDecimal(i).multiply(
          new java.math.BigDecimal("0.25")).setScale(2),
        new java.math.BigDecimal(i).multiply(
          new java.math.BigDecimal("1000000000.0001")).setScale(4))))
    }.toSeq
    def got(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getLong(0)).map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None
          else {
            val s = r.getStruct(1)
            Some((s.getDate(0).toLocalDate.toString, s.getTimestamp(1).getTime,
              s.getDecimal(2), s.getDecimal(3)))
          })
      }.toSeq
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir).select("seq", "value")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "datetime/decimal struct should be vectorized")
    assert(got(df.collect()) == expected(0 until 30))
    // mid-batch cut: date/timestamp/decimal through sliced offset views
    val bounded = df.where(col("seq") >= 7 && col("seq") <= 23)
    assert(bounded.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(got(bounded.collect()) == expected(7 to 23))
    // A/B: the row leg returns the identical rows
    spark.conf.set("spark.graft.columnar.enabled", "false")
    try {
      val rowDf = spark.read.format("graft-log").load(dir).select("seq", "value")
      assert(!rowDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(got(rowDf.collect()) == expected(0 until 30))
    } finally spark.conf.unset("spark.graft.columnar.enabled")
    // rewrite after the plan committed to columnar: the RowRepackReader
    // writes date-ints, timestamp-longs and all three decimal tiers
    val rdd = df.rdd
    log.compact()
    assert(got(rdd.collect().toArray) == expected(0 until 30))
    // point read (4-tier getMany / DirectRead) serves the same shapes
    val r5 = log.get(5).getStruct(1)
    assert(r5.getDecimal(3) == new java.math.BigDecimal(5)
      .multiply(new java.math.BigDecimal("1000000000.0001")).setScale(4))
  }

  test("columnar read survives a rewrite via the row-repack fallback") {
    val dir = tmpDir("dsv2colrw") + "/log"
    val log = mkLog(dir)
    val df = spark.read.format("graft-log")
      .option("maxPartitionBytes", "1").load(dir).select("seq", "value")
    // plan commits to columnar BEFORE the rewrite...
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val rdd = df.rdd
    val planned = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    log.compact()
    val survivors = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(planned.intersect(survivors).isEmpty)
    // ...execution finds the planned files gone: every partition is
    // served by RowRepackReader over the re-resolving row reader —
    // exact rows, no duplicates across sibling partitions
    val got = rdd.collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(got == (0L until 30L).map(s => (s, s.toInt)))
  }

  test("manifest statistics let Catalyst see the log's true size") {
    val dir = tmpDir("dsv2st") + "/log"
    mkLog(dir)
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def relStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.stats
      }.head
    val all = spark.read.format("graft-log").load(dir)
    val stats = relStats(all)
    // without SupportsReportStatistics this is defaultSizeInBytes
    // (effectively infinite) and a small log could never be the
    // auto-broadcast side of a join
    assert(stats.sizeInBytes > 0 &&
      stats.sizeInBytes < 10L * 1024 * 1024,
      s"expected small real size, got ${stats.sizeInBytes}")
    assert(stats.rowCount.contains(BigInt(30)), s"rowCount=${stats.rowCount}")
    // seq-range pruning shrinks the estimate segment-wise
    val bstats = relStats(all.where(col("seq") < 10))
    assert(bstats.sizeInBytes < stats.sizeInBytes)
    assert(bstats.rowCount.exists(_ < BigInt(30)))
  }

  test("INT96 rebase mode resolves from file provenance like Spark's reader") {
    import graft.storage.DirectRead
    def meta(kv: (String, String)*): java.util.Map[String, String] = {
      val m = new java.util.HashMap[String, String]()
      kv.foreach { case (k, v) => m.put(k, v) }
      m
    }
    // the marker forces LEGACY regardless of version
    assert(DirectRead.int96RebaseMode(meta(
      "org.apache.spark.legacyINT96" -> "",
      "org.apache.spark.version" -> "4.1.2")) == "LEGACY")
    // unmarked Spark >= 3.1 (this engine's own writer) is CORRECTED
    assert(DirectRead.int96RebaseMode(meta(
      "org.apache.spark.version" -> "4.1.2")) == "CORRECTED")
    assert(DirectRead.int96RebaseMode(meta(
      "org.apache.spark.version" -> "3.1.0")) == "CORRECTED")
    // unmarked pre-3.1 Spark always wrote legacy INT96
    assert(DirectRead.int96RebaseMode(meta(
      "org.apache.spark.version" -> "3.0.1")) == "LEGACY")
    // no Spark provenance at all: EXCEPTION (refuse ancient values)
    assert(DirectRead.int96RebaseMode(meta()) == "EXCEPTION")
    assert(DirectRead.int96RebaseMode(null) == "EXCEPTION")
  }

  test("LEGACY-marked INT96 file: ancient timestamps decode like Spark's own reader on both legs") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // force the writer into LEGACY INT96 mode: the footer gets the
    // org.apache.spark.legacyINT96 marker and pre-1582 values are
    // written Julian-rebased — the one file shape where the resolved
    // LEGACY decode does real work
    val dir = tmpDir("int96legacy") + "/log"
    spark.conf.set("spark.sql.parquet.int96RebaseModeInWrite", "LEGACY")
    try {
      val log = ParquetLog.open(spark, dir, TimestampType)
      log.append(Seq("1500-03-01 00:00:00", "2024-06-01 12:34:56")
        .toDF("s").select(to_timestamp(col("s")).as("value")))
    } finally spark.conf.unset("spark.sql.parquet.int96RebaseModeInWrite")
    // compare on Catalyst MICROS (proleptic): collecting ancient
    // timestamps as java.sql.Timestamp hybrid-calendar-shifts the
    // instant by construction (toJavaTimestamp's rebase), which is
    // Spark-standard but would mask what the READER returned
    val expected = Seq(
      java.time.LocalDateTime.of(1500, 3, 1, 0, 0, 0),
      java.time.LocalDateTime.of(2024, 6, 1, 12, 34, 56))
      .map(_.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L)
    def got(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getLong(0)).sorted.toSeq
    // vectorized leg
    val df = spark.read.format("graft-log").load(dir)
      .select(unix_micros(col("value")).as("us"))
    assert(got(df.collect()) == expected)
    // row leg
    spark.conf.set("spark.graft.columnar.enabled", "false")
    try assert(got(spark.read.format("graft-log").load(dir)
      .select(unix_micros(col("value")).as("us")).collect()) == expected)
    finally spark.conf.unset("spark.graft.columnar.enabled")
    // point-read leg (DirectRead): external Timestamp carries the same
    // calendar FIELDS (the hybrid shift is display-invariant)
    val log2 = ParquetLog.open(spark, dir, TimestampType)
    assert(log2.get(0L).getTimestamp(1).toString == "1500-03-01 00:00:00.0")
  }

  test("foreign INT96 file with no Spark provenance: modern values decode, ancient refuse loudly") {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.{MessageTypeParser}
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.example.data.simple.SimpleGroup
    val mt = MessageTypeParser.parseMessageType(
      "message spark_schema { optional int96 t; }")
    def int96(julianDay: Int, nanosOfDay: Long): org.apache.parquet.io.api.Binary = {
      val buf = java.nio.ByteBuffer.allocate(12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.putLong(nanosOfDay); buf.putInt(julianDay)
      org.apache.parquet.io.api.Binary.fromConstantByteArray(buf.array())
    }
    def writeForeign(path: String, julianDay: Int): Unit = {
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      GroupWriteSupport.setSchema(mt, conf)
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(path))
        .withConf(conf)
        .build()
      val g = new SimpleGroup(mt)
      g.add("t", int96(julianDay, 0L))
      w.write(g); w.close()
    }
    val schema = StructType(Seq(StructField("t", TimestampType)))
    val base = tmpDir("int96foreign")
    // 2440589 = Julian day of 1970-01-02: calendars agree, decodes
    writeForeign(s"$base/modern.parquet", 2440589)
    val it = graft.storage.SegmentRecords.iterator(
      s"$base/modern.parquet", schema)
    val rows = it.toList
    assert(rows.map(_.getTimestamp(0).getTime) == Seq(86400000L))
    // Julian day 2268993 is deep pre-1582: calendar attribution is
    // ambiguous for an unattributed file — refused, never guessed
    writeForeign(s"$base/ancient.parquet", 2268993)
    val ex = intercept[Exception] {
      graft.storage.SegmentRecords.iterator(
        s"$base/ancient.parquet", schema).toList
    }
    assert(ex.getMessage.contains("provenance"),
      s"expected a provenance refusal, got: ${ex.getMessage}")
  }
}
