package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional clustered data layout (z-order / Morton curve).
  *
  * The reference stores opaque frames in arrival order
  * (`/root/reference/offset2/data.go:23-35` — physical order IS seq
  * order, the only order it has), so file-level data skipping beyond
  * the seq range does not arise there. At 100 TB it is the first
  * thing a corpus owner needs: queries that slice on TWO OR MORE
  * columns (source × date, partkey × suppkey, lang × quality band)
  * cannot all be served by one linear sort order, and partitioning
  * by every combination explodes the directory tree. The classic
  * answer — used by every modern lakehouse engine — is to cluster
  * files along a space-filling curve over the queried columns so the
  * per-file min/max footer stats of EVERY curve dimension stay
  * tight, and ordinary per-column predicate pushdown then skips
  * files for any conjunction of range predicates.
  *
  * Everything here is plain declarative Spark: the curve key is a
  * straight-line tree of codegen'd built-ins (no UDF), the layout is
  * `repartitionByRange(key) + sortWithinPartitions(key)`, and the
  * skipping itself is stock parquet footer pruning — no custom
  * reader. `LayoutSpec` pins the payoff: on a z-ordered grid an
  * aligned query box touches ≤3 of 16 files where the unclustered
  * layout touches all 16.
  */
object Layout {

  /** Morton (z-order) key of `cols`: bit `b` of dimension `i` lands
    * at bit `b*n + i` of the key, giving a 2^bits × … × 2^bits grid
    * walked in self-similar Z blocks — every aligned 2^k-sided block
    * of the grid is one CONTIGUOUS key range (LayoutSpec pins this),
    * which is exactly what makes range-partitioning by the key keep
    * all dimensions' file stats tight simultaneously.
    *
    * Each input is read as its low `bits` bits (i.e. taken mod
    * 2^bits, two's-complement for negatives) — callers with wider or
    * signed domains should scale/offset into [0, 2^bits) first, e.g.
    * via `pmod` or a rank/bucketize pass. The key is built from
    * `shiftright/bitwiseAND/shiftleft/bitwiseOR` built-ins only:
    * ~bits×n straight-line long ops per row inside whole-stage
    * codegen, no UDF, no boxing.
    *
    * Requires bits × cols.size ≤ 62 (the key must fit a non-negative
    * long). */
  def zvalue(cols: Seq[Column], bits: Int = 20): Column = {
    require(cols.nonEmpty, "zvalue needs at least one column")
    require(bits > 0, s"bits must be > 0 (got $bits)")
    require(
      bits * cols.size <= 62,
      s"bits*dims must fit a long: $bits*${cols.size} > 62")
    val n = cols.size
    val terms =
      for {
        (c, i) <- cols.zipWithIndex
        b <- 0 until bits
      } yield shiftleft(
        shiftright(c.cast("long"), b).bitwiseAND(lit(1L)),
        b * n + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Write `df` to `outDir` as parquet clustered along the z-order
    * curve over `cols`: range-partition the rows into `numFiles`
    * contiguous key ranges (one shuffle — the same cost as any
    * global sort) and sort each file internally by the key, so both
    * the per-file footer stats AND the intra-file row-group stats of
    * every curve column are tight. The key itself is dropped before
    * writing — the layout is invisible to readers, who just get
    * better pruning on the original columns.
    *
    * At 100 TB: `numFiles` is the lever — size it so each range is a
    * healthy parquet file (hundreds of MB); the single range shuffle
    * is AQE-skew-splittable like any other, and the write needs no
    * driver-side state (boundaries come from Spark's range sampler).
    * Re-clustering after heavy appends is a full rewrite, same as
    * any OPTIMIZE-style maintenance op — run it on the cold tail,
    * not the hot head. */
  def writeZOrdered(
      df: DataFrame,
      cols: Seq[String],
      outDir: String,
      numFiles: Int,
      bits: Int = 20): Unit =
    zOrdered(df, cols, numFiles, bits).write.mode("overwrite").parquet(outDir)

  /** The frame [[writeZOrdered]] writes: one z-key projection, a
    * range shuffle into `numFiles` partitions and an in-partition
    * sort, with the key dropped. */
  private[graft] def zOrdered(
      df: DataFrame,
      cols: Seq[String],
      numFiles: Int,
      bits: Int): DataFrame = {
    require(cols.nonEmpty, "writeZOrdered needs at least one column")
    require(numFiles > 0, s"numFiles must be > 0 (got $numFiles)")
    // the range sampler evaluates the keyed child once more than the
    // shuffle does; materializing it first measured slower at sf0.1
    // (OPTIMIZATION_r21.md) and would copy the whole input at scale
    df.withColumn("_zkey", zvalue(cols.map(col), bits))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
  }

  /** Append `_zrank`: the z-order key over ARBITRARY orderable
    * columns, each first mapped to its RANK bucket in [0, 2^bits) so
    * skewed or non-integer domains (prices, timestamps, scores)
    * spread uniformly over the curve — raw [[zvalue]] on a skewed
    * column piles the hot region into a few key values and the
    * layout degenerates (LayoutSpec measures exactly this).
    *
    * THE SCALE PATH (default): approxQuantile boundary estimation
    * for ALL columns in ONE Greenwald-Khanna pass (the multi-column
    * overload — a d-dim ranked layout costs one corpus scan, not d),
    * no sort, no shuffle of rows — then bucket = count of boundaries
    * ≤ value, a
    * literal-array scan of 2^bits-1 comparisons inside codegen. Keep
    * `bits` modest (default 8 → 256 buckets/dim): the grid only
    * needs a few cells per OUTPUT FILE, not per row, so 256×256
    * cells already over-resolves a 10⁴-file layout; the estimated
    * boundaries only shift bucket SIZES, never break the layout.
    *
    * `exact = true` ranks with one `percent_rank` window per column
    * — a global sort each, single-partition — the cross-engine-
    * replayable twin (q120) and the tie-stable small-data path. */
  def withZRank(
      df: DataFrame,
      cols: Seq[String],
      bits: Int = 8,
      exact: Boolean = false,
      relErr: Double = 0.001): DataFrame = {
    require(cols.nonEmpty, "withZRank needs at least one column")
    require(
      bits > 0 && bits * cols.size <= 62,
      s"bits*dims must fit a long: $bits*${cols.size}")
    require(
      !df.columns.exists(c => c == "_zrank" || c.startsWith("_zb")),
      "withZRank reserves the _zrank/_zb* column names")
    val buckets = 1 << bits
    // ONE GK pass for every dimension (quantiles over the double cast
    // so any orderable-castable type, timestamps included, ranks):
    // the multi-column approxQuantile overload shares the scan, so a
    // 4-dim ranked layout costs one corpus read where per-column
    // calls would cost four
    val boundaries: Array[Array[Double]] =
      if (exact) Array.empty
      else {
        val probs = (1 until buckets).map(_.toDouble / buckets).toArray
        val proj = df.select(cols.zipWithIndex.map { case (c, i) =>
          col(c).cast("double").as(s"_q$i")
        }: _*)
        proj.stat
          .approxQuantile(cols.indices.map(i => s"_q$i").toArray,
            probs, relErr)
          .map(_.distinct.sorted)
      }
    val ranked = cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val b =
        if (exact)
          least(
            floor(percent_rank()
              .over(org.apache.spark.sql.expressions.Window.orderBy(col(c)))
              * buckets),
            lit(buckets - 1)).cast("long")
        else
          // STRICT less-than: the boundary element itself stays in
          // the lower bucket, matching the exact path's
          // floor(percent_rank·B) on exact quantiles (duplicates of
          // a boundary value land in one bucket either way)
          size(filter(typedLit(boundaries(i).toSeq),
            x => x < col(c).cast("double")))
            .cast("long")
      d.withColumn(s"_zb$i", b)
    }
    ranked
      .withColumn("_zrank",
        zvalue(cols.indices.map(i => col(s"_zb$i")), bits))
      .drop(cols.indices.map(i => s"_zb$i"): _*)
  }

  /** [[writeZOrdered]] over rank buckets: cluster `df` along the
    * z-curve of the PER-COLUMN RANKS of `cols` — the layout for
    * skewed / non-integer dimensions. Same cost shape: the quantile
    * pass (scale path), one range shuffle, in-file sort, key dropped
    * before write. */
  def writeZOrderedRanked(
      df: DataFrame,
      cols: Seq[String],
      outDir: String,
      numFiles: Int,
      bits: Int = 8,
      exact: Boolean = false): Unit = {
    require(numFiles > 0, s"numFiles must be > 0 (got $numFiles)")
    withZRank(df, cols, bits, exact)
      .repartitionByRange(numFiles, col("_zrank"))
      .sortWithinPartitions("_zrank")
      .drop("_zrank")
      .write
      .mode("overwrite")
      .parquet(outDir)
  }

  /** Write `df` PARTITIONED by z-block directories: the top `dirBits`
    * bits of the Morton key become the `_zb` partition column, so the
    * layout's file skipping happens at PLANNING time through stock
    * Hive-style partition pruning — no stats catalog, no custom
    * reader, no reliance on runtime row-group pruning. Each `_zb`
    * directory is one aligned z-BLOCK of the grid (a contiguous key
    * range = an axis-aligned box, the LayoutSpec contiguity
    * property), which is exactly what makes a query box decomposable
    * into a directory list ([[zBoxFilter]]).
    *
    * Within a directory, rows are sorted by the full key (tight
    * row-group stats for the residual scan). At 100 TB: `dirBits`
    * bounds the directory count (2^dirBits) — keep it ≤ ~12 so the
    * namespace stays listable; resolution beyond the directory grid
    * comes from the in-file sort, not more directories.
    *
    * The geometry `(cols, bits, dirBits)` is PINNED in a
    * `_zlayout.properties` marker inside `outDir` (underscore-named,
    * so readers' file listings skip it) and refused on mismatch by
    * [[appendZOrderedPartitioned]] / [[zBoxFilterAt]] — the repo's
    * refuse-loudly discipline for artifact parameters: an append
    * under different geometry would silently MISFILE rows and every
    * later box read would silently miss them. */
  def writeZOrderedPartitioned(
      df: DataFrame,
      cols: Seq[String],
      outDir: String,
      bits: Int,
      dirBits: Int): Unit = {
    require(cols.nonEmpty, "writeZOrderedPartitioned needs columns")
    require(dirBits > 0 && dirBits <= bits * cols.size,
      s"dirBits must be in (0, bits*dims] (got $dirBits)")
    require(dirBits <= 20, s"2^$dirBits directories is unlistable")
    require(
      !df.columns.exists(c => c == "_zb" || c == "_zkey"),
      "writeZOrderedPartitioned reserves the _zb/_zkey column names")
    writeZPartitioned(df, cols, outDir, bits, dirBits, overwrite = true)
    pinGeometry(outDir, cols, bits, dirBits)
  }

  /** Append `batch` INTO an existing [[writeZOrderedPartitioned]]
    * layout: new rows land in their z-block directories alongside
    * the standing files, so [[zBoxFilter]] keeps pruning correctly
    * while the corpus grows — ingest never rewrites the layout.
    * Each append adds ≤ one file per TOUCHED block; run an
    * occasional per-directory compaction (a directory is
    * independently rewritable — it owns a disjoint key range) when
    * small files accumulate. The geometry must MATCH the layout's
    * pinned `_zlayout.properties` marker — a mismatch would silently
    * misfile rows, so it is refused loudly (a marker-less pre-pin
    * layout adopts the passed geometry on first append). */
  def appendZOrderedPartitioned(
      batch: DataFrame,
      cols: Seq[String],
      outDir: String,
      bits: Int,
      dirBits: Int): Unit = {
    require(cols.nonEmpty, "appendZOrderedPartitioned needs columns")
    require(dirBits > 0 && dirBits <= bits * cols.size,
      s"dirBits must be in (0, bits*dims] (got $dirBits)")
    require(
      !batch.columns.exists(c => c == "_zb" || c == "_zkey"),
      "appendZOrderedPartitioned reserves the _zb/_zkey column names")
    pinnedGeometry(outDir) match {
      case Some((pc, pb, pd)) =>
        require(pc == cols && pb == bits && pd == dirBits,
          s"layout at $outDir was written with (cols=${pc.mkString(",")}, " +
            s"bits=$pb, dirBits=$pd); appending with " +
            s"(${cols.mkString(",")}, $bits, $dirBits) would misfile " +
            "rows and zBoxFilter reads would silently miss them")
      case None => pinGeometry(outDir, cols, bits, dirBits)
    }
    writeZPartitioned(batch, cols, outDir, bits, dirBits,
      overwrite = false)
  }

  /** The pinned `(cols, bits, dirBits)` of a partitioned layout, if
    * its marker exists. */
  def pinnedGeometry(dir: String): Option[(Seq[String], Int, Int)] =
    graft.storage.FileIO.loadProps(
      graft.storage.FileIO.join(dir, "_zlayout.properties")).map { p =>
      (p.getProperty("cols").split(",").toSeq,
        p.getProperty("bits").toInt,
        p.getProperty("dirBits").toInt)
    }

  private def pinGeometry(
      dir: String, cols: Seq[String], bits: Int, dirBits: Int): Unit = {
    require(cols.forall(!_.contains(",")),
      "z-layout column names must not contain commas")
    val props = new java.util.Properties()
    props.setProperty("cols", cols.mkString(","))
    props.setProperty("bits", bits.toString)
    props.setProperty("dirBits", dirBits.toString)
    graft.storage.FileIO.storeProps(
      graft.storage.FileIO.join(dir, "_zlayout.properties"), props,
      "graft z-layout geometry")
  }

  private def writeZPartitioned(
      df: DataFrame,
      cols: Seq[String],
      outDir: String,
      bits: Int,
      dirBits: Int,
      overwrite: Boolean): Unit = {
    val shift = bits * cols.size - dirBits
    // REFUSE out-of-domain / null values at write time: the Morton
    // key reads each input mod 2^bits, so a value outside [0, 2^bits)
    // would be FILED in an unrelated block — correct for the plain
    // footer-stat layout (stats carry raw values), but a zBoxFilter
    // read over the partitioned layout would silently LOSE those rows
    // (its block math assumes in-domain values). A misfiled row is a
    // wrong-results bug waiting in every future read; refuse loudly
    // and point at withZRank for unbounded domains.
    val lim = 1L << bits
    val guarded = cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).isNull || col(c) < 0 || col(c) >= lim,
          raise_error(lit(
            s"writeZOrderedPartitioned: column $c has a null or " +
              s"out-of-[0, $lim) value — the z key would misfile it " +
              "and zBoxFilter reads would silently miss it; bucketize " +
              "unbounded domains first (withZRank)")))
          .otherwise(col(c)))
    }
    guarded.withColumn("_zkey", zvalue(cols.map(col), bits))
      .withColumn("_zb", shiftright(col("_zkey"), shift))
      .repartitionByRange(1 << dirBits, col("_zb"))
      .sortWithinPartitions("_zb", "_zkey")
      .drop("_zkey")
      .write
      .partitionBy("_zb")
      .mode(if (overwrite) "overwrite" else "append")
      .parquet(outDir)
  }

  /** The planning-time filter for an axis-aligned query box over a
    * [[writeZOrderedPartitioned]] layout: enumerate (on the driver —
    * 2^dirBits candidates, a few thousand at most) every z-block
    * whose grid region intersects `bounds`, and return
    * `_zb IN (hits) AND the per-column box predicates`. The IN lands
    * on the partition column, so Catalyst prunes the non-intersecting
    * DIRECTORIES at planning time (zero tasks, zero footer reads);
    * the residual column bounds cut rows inside the surviving
    * blocks. `bounds` aligns with `cols` as inclusive `(lo, hi)`
    * pairs in the written key's low-`bits` domain.
    *
    * Correctness does not depend on the enumeration being tight: a
    * block is pruned ONLY when its region provably misses the box
    * (LayoutSpec checks the result equals a plain filter bit for
    * bit); tightness is what the pruning payoff assert measures. */
  def zBoxFilter(
      cols: Seq[String],
      bounds: Seq[(Long, Long)],
      bits: Int,
      dirBits: Int): Column = {
    require(cols.size == bounds.size, "one (lo, hi) per column")
    val n = cols.size
    val shift = bits * n - dirBits
    // block zb covers keys [zb<<shift, (zb+1)<<shift): de-interleave
    // the PREFIX to per-dim ranges. Key bit b*n+i is dim i's bit b;
    // prefix bits are positions >= shift — dim i's bits b with
    // b*n+i >= shift are fixed, lower bits free.
    def blockRange(zb: Long, dim: Int): (Long, Long) = {
      var lo = 0L
      var freeMask = 0L
      var b = 0
      while (b < bits) {
        val pos = b * n + dim
        if (pos >= shift) { // fixed by the prefix
          if (((zb >> (pos - shift)) & 1L) == 1L) lo |= 1L << b
        } else freeMask |= 1L << b
        b += 1
      }
      (lo, lo | freeMask)
    }
    val hits = (0L until (1L << dirBits)).filter { zb =>
      bounds.indices.forall { i =>
        val (blo, bhi) = blockRange(zb, i)
        blo <= bounds(i)._2 && bhi >= bounds(i)._1
      }
    }
    val residual = cols.zip(bounds)
      .map { case (c, (lo, hi)) => col(c).between(lo, hi) }
      .reduce(_ && _)
    // a box covering every block prunes nothing: skip the IN entirely
    // rather than shipping a 2^dirBits-literal list through the plan
    if (hits.size == (1L << dirBits)) residual
    else col("_zb").isin(hits: _*) && residual
  }

  /** [[zBoxFilter]] against a layout's PINNED geometry: reads
    * `(bits, dirBits)` — and validates `cols` — from the
    * `_zlayout.properties` marker the write pinned, so the box math
    * can never run under a different geometry than the rows were
    * filed with (the silent-miss failure mode the pin exists for).
    * Refuses a marker-less dir: pass the geometry explicitly through
    * [[zBoxFilter]] only when you own both sides. */
  def zBoxFilterAt(
      dir: String,
      cols: Seq[String],
      bounds: Seq[(Long, Long)]): Column = {
    val (pc, bits, dirBits) = pinnedGeometry(dir).getOrElse(
      throw new IllegalArgumentException(
        s"no pinned z-layout geometry at $dir (missing " +
          "_zlayout.properties) — was this dir written by " +
          "writeZOrderedPartitioned?"))
    require(pc == cols,
      s"layout at $dir is keyed on (${pc.mkString(",")}); a box over " +
        s"(${cols.mkString(",")}) cannot prune it")
    zBoxFilter(cols, bounds, bits, dirBits)
  }

  /** Per-file min/max of `cols` for the parquet files under `dir` —
    * the same stats a reader's footer pruning consults, computed
    * engine-side so layouts can be AUDITED (LayoutSpec) and compared
    * rather than trusted. One scan, one map-side-combined
    * aggregation; output is one row per file. */
  def fileStats(
      spark: SparkSession,
      dir: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fileStats needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    spark.read
      .parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
