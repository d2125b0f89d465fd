package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Layout

/** Z-order clustered layout: key correctness vs a bit-twiddling
  * reference, block contiguity (the property the layout relies on),
  * and the actual payoff — file-level pruning measured from footer
  * stats on clustered vs unclustered writes of the same grid. */
class LayoutSpec extends SparkSpec {

  /** Reference Morton interleave, written independently of the
    * Column construction (per-bit loop over longs). */
  private def refZ(vals: Seq[Long], bits: Int): Long = {
    val n = vals.size
    var z = 0L
    for (i <- vals.indices; b <- 0 until bits)
      z |= ((vals(i) >> b) & 1L) << (b * n + i)
    z
  }

  test("zvalue matches the reference interleave on random points") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(200)((rnd.nextInt(1 << 10).toLong,
      rnd.nextInt(1 << 10).toLong, rnd.nextInt(1 << 10).toLong))
    val got = pts.toDF("x", "y", "w")
      .select(Layout.zvalue(Seq(col("x"), col("y"), col("w")), 10).as("z"))
      .as[Long].collect()
    val want = pts.map(p => refZ(Seq(p._1, p._2, p._3), 10))
    assert(got.toSeq == want)
    // low-bits semantics: out-of-range input reads as its low bits
    val wide = Seq((1025L, 3L)).toDF("x", "y")
      .select(Layout.zvalue(Seq(col("x"), col("y")), 10).as("z"))
      .as[Long].head()
    assert(wide == refZ(Seq(1025L & 1023L, 3L), 10))
  }

  test("aligned 2^k blocks are contiguous key ranges") {
    import spark.implicits._
    // 64x64 grid; every aligned 8x8 block must map to exactly 64
    // consecutive key values — the property that makes one range
    // shuffle cluster BOTH dimensions at once.
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y"))
    val blocks = grid
      .select(Layout.zvalue(Seq(col("x"), col("y")), 6).as("z"),
        (col("x") / 8).cast("long").as("bx"),
        (col("y") / 8).cast("long").as("by"))
      .groupBy("bx", "by")
      .agg(min("z").as("lo"), max("z").as("hi"),
        countDistinct("z").as("n"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(blocks.length == 64)
    blocks.foreach { case (bx, by, lo, hi, n) =>
      assert(n == 64 && hi - lo == 63,
        s"block ($bx,$by) not contiguous: lo=$lo hi=$hi n=$n")
    }
  }

  test("z-ordered layout prunes an aligned box to a few files; unclustered touches all") {
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y"),
        col("id").as("payload"))

    val zDir = tmpDir("layout-z")
    Layout.writeZOrdered(grid, Seq("x", "y"), zDir, numFiles = 16, bits = 6)
    val naiveDir = tmpDir("layout-naive")
    grid.repartition(16).write.mode("overwrite").parquet(naiveDir)

    // query box: x in [16,23], y in [32,39] — an aligned 8x8 block,
    // i.e. one contiguous 64-key z run; its rows can cross at most
    // one range boundary of the ~256-key-wide file ranges.
    def overlapping(dir: String): (Long, Long) = {
      val st = Layout.fileStats(spark, dir, Seq("x", "y"))
      val hit = st.where(
        col("x_min") <= 23 && col("x_max") >= 16 &&
          col("y_min") <= 39 && col("y_max") >= 32)
      (hit.count(), st.count())
    }
    val (zHit, zTotal) = overlapping(zDir)
    val (nHit, nTotal) = overlapping(naiveDir)
    assert(zTotal >= 12, s"range write produced too few files: $zTotal")
    assert(zHit <= 3, s"z layout: box overlaps $zHit of $zTotal files")
    assert(nHit >= 12, s"unclustered layout unexpectedly tight: $nHit of $nTotal")

    // the layout must not change the data: same rows back
    val got = spark.read.parquet(zDir)
      .where(col("x").between(16, 23) && col("y").between(32, 39))
      .count()
    assert(got == 64L)
    assert(spark.read.parquet(zDir).count() == 64L * 64)
  }

  test("z-block partitioned layout: box decomposition is exact and prunes at planning time") {
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y"),
        col("id").as("payload"))
    val dir = tmpDir("layout-part")
    // 6-bit grid, 16 z-block directories (4x4 blocks of 16x16 cells)
    Layout.writeZOrderedPartitioned(grid, Seq("x", "y"), dir,
      bits = 6, dirBits = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 64L * 64)

    // an UNALIGNED box crossing block boundaries: results must equal
    // the plain filter bit for bit (pruning may never drop a row)
    val (xLo, xHi, yLo, yHi) = (13L, 34L, 7L, 20L)
    val got = back
      .where(Layout.zBoxFilter(Seq("x", "y"),
        Seq((xLo, xHi), (yLo, yHi)), bits = 6, dirBits = 4))
      .select("payload").collect().map(_.getLong(0)).sorted
    val want = grid
      .where(col("x").between(xLo, xHi) && col("y").between(yLo, yHi))
      .select("payload").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq, "decomposition lost or added rows")
    assert(want.length == 22 * 14)

    // planning-time pruning: the IN lands on the partition column and
    // only the intersecting block directories are scanned — the box
    // spans x-blocks {0,1,2} × y-blocks {0,1} = 6 of 16
    val q = back.where(Layout.zBoxFilter(Seq("x", "y"),
      Seq((xLo, xHi), (yLo, yHi)), bits = 6, dirBits = 4))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_zb"),
      s"zb hits not pushed to partition pruning:\n$plan")
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned.contains(6), s"scanned $scanned partitions, want 6 of 16")

    // an aligned single-block box touches exactly one directory
    val one = back.where(Layout.zBoxFilter(Seq("x", "y"),
      Seq((16L, 31L), (48L, 63L)), bits = 6, dirBits = 4))
    val oneScanned = one.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(oneScanned.contains(1), s"aligned block scanned $oneScanned dirs")
    assert(one.count() == 16L * 16)
  }

  test("partitioned write refuses out-of-domain and null values loudly") {
    import spark.implicits._
    // a value >= 2^bits would be FILED mod 2^bits: a zBoxFilter read
    // would silently lose the row — the write must refuse instead
    val bad = Seq((1L, 2L), (70L, 3L)).toDF("x", "y") // 70 >= 2^6
    val e = intercept[Exception] {
      Layout.writeZOrderedPartitioned(bad, Seq("x", "y"),
        tmpDir("layout-oob"), bits = 6, dirBits = 4)
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.toString + msgs(t.getCause)
    assert(msgs(e).contains("misfile"), s"wrong failure: $e")
    val withNull = Seq((Some(1L), 2L), (None, 3L)).toDF("x", "y")
    val e2 = intercept[Exception] {
      Layout.writeZOrderedPartitioned(withNull, Seq("x", "y"),
        tmpDir("layout-null"), bits = 6, dirBits = 4)
    }
    assert(msgs(e2).contains("misfile"), s"wrong failure: $e2")
  }

  test("appending into a z-block layout keeps the decomposition exact and pruned") {
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y"),
        col("id").as("payload"))
    val dir = tmpDir("layout-append")
    Layout.writeZOrderedPartitioned(grid.where(col("payload") % 2 === 0),
      Seq("x", "y"), dir, bits = 6, dirBits = 4)
    Layout.appendZOrderedPartitioned(grid.where(col("payload") % 2 === 1),
      Seq("x", "y"), dir, bits = 6, dirBits = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 64L * 64, "append lost rows")
    val q = back.where(Layout.zBoxFilter(Seq("x", "y"),
      Seq((13L, 34L), (7L, 20L)), bits = 6, dirBits = 4))
    // identical result to the plain filter over base ∪ appended
    val want = grid
      .where(col("x").between(13, 34) && col("y").between(7, 20))
      .select("payload").collect().map(_.getLong(0)).sorted
    assert(q.select("payload").collect().map(_.getLong(0)).sorted
      .toSeq == want.toSeq)
    // pruning unchanged: appended rows landed in the SAME directories
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned.contains(6), s"scanned $scanned dirs after append, want 6")
  }

  test("exact rank buckets match a Scala percent_rank reference (ties, skew)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // heavy ties + skew: 300 draws from {0,1,2,3} squared plus a tail
    val vals = Seq.fill(300)(math.pow(rnd.nextInt(4).toDouble, 2)) ++
      Seq(900.0, 1000.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val bits = 4
    val got = Layout.withZRank(df, Seq("v"), bits, exact = true)
      .select("id", "_zrank").as[(Long, Long)].collect().toMap
    // reference: percent_rank = (rank-1)/(n-1), rank = 1 + count(strictly less)
    val n = vals.size
    val below = vals.sorted
    def ref(v: Double): Long = {
      val rank = below.indexWhere(_ == v) + 1
      val pr = (rank - 1).toDouble / (n - 1)
      math.min(math.floor(pr * (1 << bits)).toLong, (1 << bits) - 1)
    }
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(got(i.toLong) == ref(v), s"row $i v=$v")
    }
  }

  test("scale path agrees with exact path when quantiles are exact") {
    import spark.implicits._
    // distinct uniform values + tiny relErr: GK boundaries are exact,
    // so the two paths must assign identical buckets
    val df = scala.util.Random.shuffle((0 until 512).toList)
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }
      .toDF("id", "v")
    val ex = Layout.withZRank(df, Seq("v"), bits = 4, exact = true)
      .select("id", "_zrank").as[(Long, Long)].collect().toMap
    val ap = Layout.withZRank(df, Seq("v"), bits = 4, exact = false,
      relErr = 0.0001)
      .select("id", "_zrank").as[(Long, Long)].collect().toMap
    assert(ex == ap)
  }

  test("ranked layout prunes a quantile box on skewed doubles; naive touches all") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // lognormal-ish skew in both dims: raw zvalue cannot even apply
    // (doubles, unbounded domain); ranks spread the curve uniformly
    val rows = Seq.fill(4096)(
      (math.exp(rnd.nextGaussian() * 2), math.exp(rnd.nextGaussian() * 2)))
    val df = rows.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "price", "score")

    val zDir = tmpDir("layout-ranked")
    Layout.writeZOrderedRanked(df, Seq("price", "score"), zDir,
      numFiles = 16, bits = 6)
    val naiveDir = tmpDir("layout-ranked-naive")
    df.repartition(16).write.mode("overwrite").parquet(naiveDir)

    // query box: the inter-quartile hot region in both dims — the
    // worst case for a skewed raw-value layout, routine for ranks
    val pB = rows.map(_._1).sorted
    val sB = rows.map(_._2).sorted
    val (pLo, pHi) = (pB(1024), pB(2047))
    val (sLo, sHi) = (sB(1024), sB(2047))
    def hits(dir: String): (Long, Long) = {
      val st = Layout.fileStats(spark, dir, Seq("price", "score"))
      (st.where(col("price_min") <= pHi && col("price_max") >= pLo &&
          col("score_min") <= sHi && col("score_max") >= sLo).count(),
        st.count())
    }
    val (zHit, zN) = hits(zDir)
    val (nHit, nN) = hits(naiveDir)
    assert(zN >= 12, s"too few files: $zN")
    assert(zHit <= zN / 2,
      s"ranked layout: box overlaps $zHit of $zN files")
    assert(nHit >= 12, s"naive unexpectedly tight: $nHit of $nN")
    // correctness: same matching rows from both layouts
    def matched(dir: String): Long = spark.read.parquet(dir)
      .where(col("price").between(pLo, pHi) &&
        col("score").between(sLo, sHi)).count()
    assert(matched(zDir) == matched(naiveDir))
  }

  test("scale-path ranking: 4-dim quantile pass costs no more jobs than 1-dim") {
    import spark.implicits._
    val df = spark.range(4096).select(col("id"),
      (col("id") % 97).cast("double").as("a"),
      (col("id") % 89).cast("double").as("b"),
      (col("id") % 83).cast("double").as("c"),
      (col("id") % 79).cast("double").as("d"))
      .localCheckpoint(true) // isolate the quantile pass from range's jobs
    val one = jobsDuring(Layout.withZRank(df, Seq("a"), bits = 4))
    val four = jobsDuring(Layout.withZRank(df, Seq("a", "b", "c", "d"), bits = 4))
    // the multi-column approxQuantile overload shares one GK scan —
    // a d-dim ranked layout must not pay d corpus reads
    assert(one >= 1, s"1-dim pass launched no job?")
    assert(four == one,
      s"4-dim quantile pass cost $four jobs vs $one for 1-dim — " +
        "the boundary estimation is not a single shared scan")
  }

  test("partitioned layout pins its geometry; mismatched appends and box reads refuse") {
    val grid = spark.range(32L * 32)
      .select((col("id") % 32).as("x"),
        (col("id") / 32).cast("long").as("y"),
        col("id").as("payload"))
    val dir = tmpDir("layout-pin")
    Layout.writeZOrderedPartitioned(grid, Seq("x", "y"), dir,
      bits = 5, dirBits = 4)
    // the geometry of record
    assert(Layout.pinnedGeometry(dir).contains((Seq("x", "y"), 5, 4)))
    // a mismatched append is refused loudly (it would misfile rows)
    val more = grid.withColumn("payload", col("payload") + 10000)
    intercept[IllegalArgumentException](
      Layout.appendZOrderedPartitioned(more, Seq("x", "y"), dir,
        bits = 4, dirBits = 4))
    intercept[IllegalArgumentException](
      Layout.appendZOrderedPartitioned(more, Seq("y", "x"), dir,
        bits = 5, dirBits = 4))
    // the matching append still lands
    Layout.appendZOrderedPartitioned(more, Seq("x", "y"), dir,
      bits = 5, dirBits = 4)
    assert(spark.read.parquet(dir).count() == 2L * 32 * 32)
    // box reads against the PIN need no geometry args — and refuse
    // a column set the layout is not keyed on
    val q = spark.read.parquet(dir)
      .where(Layout.zBoxFilterAt(dir, Seq("x", "y"),
        Seq((3L, 9L), (4L, 11L))))
    val want = 7L * 8 * 2
    assert(q.count() == want, s"boxed count ${q.count()} != $want")
    intercept[IllegalArgumentException](
      Layout.zBoxFilterAt(dir, Seq("x", "payload"), Seq((0L, 1L), (0L, 1L))))
    intercept[IllegalArgumentException](
      Layout.zBoxFilterAt(tmpDir("layout-nopin"), Seq("x"), Seq((0L, 1L))))
  }
}
