package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types._

import graft.sources.LogSegmentPartition
import graft.storage.{FileIO, Manifest, ParquetLog, TableStore}

/** Segment packing of the `graft-log` and `graft-table` scans
  * (`SegmentPacking.pack`), on both connectors: the partition count
  * follows the real file bytes — ⌈total / min(cap, max(openCost,
  * total / cores))⌉ — and the seq-ordered segments are cut into that
  * many contiguous groups balanced by byte midpoint, so a mid-size
  * scan fills every core once. Rows stay exact on the columnar and the
  * row legs. */
class PackingSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))

  /** One connector under test: builds a store of `n` equal segments
    * of `rows` rows each (one row group per segment unless the block
    * size is shrunk) and names its long value column. */
  private case class Connector(
      format: String,
      build: (String, Int, Int) => Unit,
      values: DataFrame => DataFrame
  )

  private val log = Connector("graft-log", (dir, n, rows) => {
    val l = ParquetLog.open(spark, dir, LongType)
    for (i <- 0 until n)
      l.append(spark.range(i.toLong * rows, (i + 1L) * rows)
        .select((col("id") % rows).as("value")).coalesce(1))
  }, _.select(col("seq")))

  private val table = Connector("graft-table", (dir, n, rows) => {
    val t = TableStore.open(spark, dir, schema)
    for (i <- 0 until n)
      t.append(spark.range(i.toLong * rows, (i + 1L) * rows)
        .select(concat(lit("k"), col("id") % rows).as("k"), col("id").as("v"))
        .coalesce(1))
  }, _.select(col("v")))

  private val connectors = Seq(log, table)

  private def parts(df: DataFrame): Seq[LogSegmentPartition] =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(df.queryExecution.executedPlan.toString))
      .inputPartitions.map(_.asInstanceOf[LogSegmentPartition]).toSeq

  private def fileBytes(p: LogSegmentPartition): Long =
    p.paths.map(f => FileIO.forPath(f).size(f)).sum

  /** The scan's long column, sorted, on the columnar and the row leg. */
  private def bothLegs(read: => DataFrame, c: Connector): Seq[Seq[Long]] =
    Seq("true", "false").map { on =>
      spark.conf.set("spark.graft.columnar.enabled", on)
      try c.values(read).collect().map(_.getLong(0)).sorted.toSeq
      finally spark.conf.unset("spark.graft.columnar.enabled")
    }

  /** `body` with a small open cost, so KB-sized segments are mid-size. */
  private def midSize[A](body: => A): A = {
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try body finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  private val rows = 4000

  for (c <- connectors) {
    test(s"${c.format}: n equal mid-size segments plan min(n, cores) " +
      "partitions of near-equal segment counts") {
      val cores = spark.sparkContext.defaultParallelism
      for (n <- Seq(2, cores, cores + 1, 2 * cores + 1)) {
        val dir = tmpDir("pack-") + "/store"
        c.build(dir, n, rows)
        assert(Manifest.load(dir).get.segments.size == n)
        midSize {
          val ps = parts(spark.read.format(c.format).load(dir))
          assert(ps.size == math.min(n, cores), s"n=$n: ${ps.map(_.paths.size)}")
          val counts = ps.map(_.paths.size)
          assert(counts.sum == n && counts.max - counts.min <= 1,
            s"n=$n: $counts")
          // contiguous: each partition's seq range follows the last
          if (c == log)
            assert(ps.zip(ps.drop(1)).forall { case (a, b) =>
              b.minSeq == a.maxSeq + 1 }, ps)
          val want = (0L until n.toLong * rows).toSeq
          assert(bothLegs(spark.read.format(c.format).load(dir), c) ==
            Seq(want, want), s"n=$n")
        }
      }
    }

    test(s"${c.format}: tiny logs plan one partition, maxPartitionBytes=1 " +
      "one per segment, and no partition passes the cap") {
      val dir = tmpDir("pack-") + "/store"
      c.build(dir, 9, rows)
      val want = (0L until 9L * rows).toSeq
      // default open cost (4 MB) is above the whole store: one partition
      assert(parts(spark.read.format(c.format).load(dir)).size == 1)
      val perSeg = spark.read.format(c.format)
        .option("maxPartitionBytes", "1").load(dir)
      assert(parts(perSeg).size == 9 && parts(perSeg).forall(_.paths.size == 1))
      assert(bothLegs(spark.read.format(c.format)
        .option("maxPartitionBytes", "1").load(dir), c) == Seq(want, want))
      // a cap of ~2.5 segments: every partition stays under it, even
      // though the even share (9 / cores segments) would pass it
      val seg = Manifest.load(dir).get.segments
        .map(s => FileIO.forPath(dir).size(FileIO.join(dir, s.path)))
      val cap = (seg.max * 5 / 2).toString
      midSize {
        def capped = spark.read.format(c.format)
          .option("maxPartitionBytes", cap).load(dir)
        val ps = parts(capped)
        assert(ps.forall(p => fileBytes(p) <= cap.toLong),
          ps.map(fileBytes))
        assert(ps.map(_.paths.size).sum == 9)
        assert(bothLegs(capped, c) == Seq(want, want))
      }
    }

    test(s"${c.format}: an oversized segment still splits into " +
      "row-group-aligned partitions, balanced across the cores") {
      val dir = tmpDir("pack-") + "/store"
      val hconf = spark.sparkContext.hadoopConfiguration
      val prev = hconf.get("parquet.block.size")
      hconf.setInt("parquet.block.size", 16 * 1024)
      try c.build(dir, 1, 20000)
      finally {
        if (prev == null) hconf.unset("parquet.block.size")
        else hconf.set("parquet.block.size", prev)
      }
      midSize {
        val ps = parts(spark.read.format(c.format).load(dir))
        val cores = spark.sparkContext.defaultParallelism
        assert(ps.size > 1 && ps.size <= cores, ps)
        assert(ps.forall(_.isSplit), ps)
        val want = (0L until 20000L).toSeq
        assert(bothLegs(spark.read.format(c.format).load(dir), c) ==
          Seq(want, want))
      }
    }
  }

  test("explain shows the planned partition count and the largest " +
    "partition's bytes") {
    for (c <- connectors) {
      val dir = tmpDir("pack-") + "/store"
      c.build(dir, 6, rows)
      midSize {
        val df = spark.read.format(c.format).load(dir)
        val ps = parts(df)
        val largest = ps.map(fileBytes).max
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains(s"partitions=${ps.size} largest=${largest}B"), plan)
      }
    }
  }
}
