package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, FingerprintIndex}

/** The managed Hamming-tier artifact: rolling ingests equal the
  * batch-touching slice of the one-shot pairing, replays are
  * exactly-once, the survivor rule is corpus-wins, the streaming leg
  * resumes, and the geometry is pinned. */
class FingerprintIndexSpec extends SparkSpec {

  // simhash32 fingerprints of the docs corpus — the media-pHash case
  // is the same machinery over a different hash column
  private lazy val fp = Dedup
    .simhash32(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"),
      "text", "doc_id")
    .toDF("doc_id", "h")

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rolling ingests equal one-shot batch-touching pairs; replay exactly-once") {
    val corpus = fp.where(col("doc_id") < 250)
    val b1 = fp.where(col("doc_id") >= 250 && col("doc_id") < 375)
    val b2 = fp.where(col("doc_id") >= 375)
    val idx = FingerprintIndex.open(spark, tmpDir("fpidx-"), bands = 4,
      bits = 32)
    idx.seed("seed", corpus, "h", "doc_id")
    val r1 = idx.ingest("b1", b1, "h", "doc_id", maxHamming = 2)
    val r2 = idx.ingest("b2", b2, "h", "doc_id", maxHamming = 2)
    assert(!r1.replayed && !r2.replayed)
    val want = pairSet(Dedup
      .hammingPairs(fp, "h", "doc_id", maxHamming = 2, bands = 4)
      .where(col("id_b") >= 250))
    assert(want.nonEmpty, "no batch-touching pairs — vacuous")
    assert((pairSet(r1.pairs) ++ pairSet(r2.pairs)) == want,
      "rolling != one-shot slice")
    // replay: same version, nothing appended
    val rows = idx.bandRows.count()
    val rep = idx.ingest("b1", b1, "h", "doc_id", maxHamming = 2)
    assert(rep.replayed && rep.version == r1.version)
    assert(pairSet(rep.pairs) == pairSet(r1.pairs), "replay diverged")
    assert(idx.bandRows.count() == rows && rows == 500L * 4,
      "index must hold every fingerprint once, pre-banded")
    // survivor rule: corpus-wins; the corpus record rides the commit
    val a1 = r1.admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    val drop1 = Dedup.incrementalDropIds(
        r1.pairs.select("id_a", "id_b"), b1.select(col("doc_id")), "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a1 == (250L until 375L).toSet -- drop1)
    val a2 = r2.admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    val corpusIds = idx.corpus.select("id").collect().map(_.getLong(0)).toSet
    assert(corpusIds == (0L until 250L).toSet ++ a1 ++ a2,
      "corpus flag diverged from the admitted sets")
  }

  test("streaming leg: kill/restart equals the uninterrupted rolling run") {
    import org.apache.spark.sql.types._
    val srcDir = tmpDir("fpidx-src-") + "/log"
    val ckpt = tmpDir("fpidx-ck-")
    val dir = tmpDir("fpidx-stream-")
    val log = graft.storage.ParquetLog.open(spark, srcDir, StructType(Seq(
      StructField("doc_id", LongType), StructField("h", LongType))))
    def wave(w: org.apache.spark.sql.DataFrame): Unit =
      log.append(w.select(struct(col("doc_id"), col("h")).as("value")))
    def stream() = spark.readStream.format("graft-log").load(srcDir)
      .select(col("value.doc_id").as("doc_id"), col("value.h").as("h"))
    val idx = FingerprintIndex.open(spark, dir, bands = 4, bits = 32)
    wave(fp.where(col("doc_id") < 300))
    val q1 = idx.start(stream(), "h", "doc_id", ckpt, maxHamming = 2)
    try q1.processAllAvailable() finally q1.stop()
    wave(fp.where(col("doc_id") >= 300))
    val idx2 = FingerprintIndex.open(spark, dir) // geometry reloads
    val q2 = idx2.start(stream(), "h", "doc_id", ckpt, maxHamming = 2)
    try q2.processAllAvailable() finally q2.stop()
    assert(idx2.bandRows.count() == 500L * 4,
      "restart lost or duplicated fingerprints")
    // the streamed corpus equals a one-shot two-batch rolling run
    val ref = FingerprintIndex.open(spark, tmpDir("fpidx-ref-"),
      bands = 4, bits = 32)
    ref.ingest("w1", fp.where(col("doc_id") < 300), "h", "doc_id",
      maxHamming = 2)
    ref.ingest("w2", fp.where(col("doc_id") >= 300), "h", "doc_id",
      maxHamming = 2)
    val got = idx2.corpus.select("id").collect().map(_.getLong(0)).toSet
    val want = ref.corpus.select("id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"streamed corpus != rolling batch run: " +
      s"extra=${got -- want}, missing=${want -- got}")
  }

  test("open refuses a mismatched geometry") {
    val dir = tmpDir("fpidx-pin-")
    FingerprintIndex.open(spark, dir, bands = 4, bits = 32)
      .seed("s", fp.limit(10), "h", "doc_id")
    intercept[IllegalArgumentException](
      FingerprintIndex.open(spark, dir, bands = 8, bits = 32))
    intercept[IllegalArgumentException](
      FingerprintIndex.open(spark, dir, bands = 4, bits = 64))
    assert(FingerprintIndex.open(spark, dir).bands == 4)
  }

  test("ingest and start refuse bands <= maxHamming") {
    val idx = FingerprintIndex.open(spark, tmpDir("fpidx-pigeon-"),
      bands = 4, bits = 32)
    intercept[IllegalArgumentException](
      idx.ingest("b", fp.limit(10), "h", "doc_id", maxHamming = 4))
    intercept[IllegalArgumentException](
      idx.start(fp.limit(10), "h", "doc_id", tmpDir("fpidx-pigeon-ckpt-"),
        maxHamming = 4))
  }

  test("routing(n)(t) lands on partition t under Spark's hash partitioning") {
    Seq(1, 4, 7, 32).foreach { n =>
      val route = FingerprintIndex.routing(n)
      (0 until n).foreach { t =>
        val parts = spark.range(4).repartition(n, lit(route(t)))
          .select(spark_partition_id()).collect().map(_.getInt(0)).toSet
        assert(parts == Set(t), s"n=$n: routing(n)($t) landed on $parts")
      }
    }
  }

  test("ingest lays segments out range-tiled and sorted (probe prunes between compacts)") {
    import graft.storage.FileIO
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("fpidx-layout-")
    val idx = FingerprintIndex.open(spark, dir, bands = 4, bits = 32)
    idx.ingest("w1", fp.where(col("doc_id") < 300), "h", "doc_id",
      maxHamming = 2)
    idx.ingest("w2", fp.where(col("doc_id") >= 300), "h", "doc_id",
      maxHamming = 2)
    // few files per commit — planning/open cost is O(commits), not
    // O(commits x shuffle.partitions)
    val dataDir = FileIO.join(FileIO.join(dir, "store"), "data")
    val files = FileIO.forPath(dir).list(dataDir)
      .filter(e => e.name.endsWith(".parquet") && !FileIO.isHidden(e.name))
    assert(files.nonEmpty &&
      files.size <= 2 * FingerprintIndex.SegmentsPerCommit,
      s"expected <= ${2 * FingerprintIndex.SegmentsPerCommit} range-tiled " +
        s"segment files from 2 commits, found ${files.size}")
    // inside each fresh segment the row groups are (band, bkey)-sorted:
    // their band stats are ordered, so a pushed band/bkey predicate
    // prunes row groups BEFORE any compact. (The journal row sorts
    // first — kind "batch" < "fp" — keeping journal lookups one row
    // group deep.)
    files.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        FileIO.forPath(f.path).inputFile(f.path))
      try {
        val mins = r.getFooter.getBlocks.asScala.toList.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == "band")
            .flatMap(c => Option(c.getStatistics))
            .filter(_.hasNonNullValue)
            .map(_.genericGetMin.asInstanceOf[java.lang.Integer].intValue())
        }
        assert(mins == mins.sorted,
          s"row-group band stats not sorted in ${f.name}: $mins")
      } finally r.close()
    }
    // the probe itself stays correct over the tiled layout
    assert(idx.bandRows.count() == 500L * 4)
  }
}
