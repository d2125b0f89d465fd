package graft

import java.sql.Timestamp
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.GraftErrors
import graft.core.QuerySpec._
import graft.storage.{FileIO, Manifest, ParquetLog}

/** The driver path of `ParquetLog.append`: a small batch that already
  * sits on the driver (a local relation) is stamped and staged with
  * no Spark job, through Spark's own parquet writer.
  *
  *   - structure: which inputs take it (0 jobs) and which keep the
  *     job path, counted with a listener;
  *   - equivalence: the same rows written once by each path give
  *     segments with the same parquet schema (nullability included),
  *     the same Spark row metadata, an offset index, and the same
  *     answers from every read and maintenance operation, over the
  *     value types a log carries.
  */
class DriverAppendSpec extends SparkSpec {

  private def events(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"e$i", i * 0.5))
      .toDF("id", "kind", "amount")
      .select(struct(col("*")).as("value"))
  }

  private def segments(dir: String) = Manifest.load(dir).get.segments

  private def values(log: ParquetLog): Seq[(Long, Row)] =
    log.toDF.orderBy("seq").collect().toSeq.map(r => r.getLong(0) -> r)

  // ---------------------------------------------------------------
  // structure: which appends run jobs
  // ---------------------------------------------------------------
  test("a local append of 1 row runs 0 Spark jobs") {
    import spark.implicits._
    val log = ParquetLog.open(spark, tmpDir("da-one-") + "/log", IntegerType)
    assert(jobsDuring(log.append(Seq(7).toDF("value"))) == 0)
    assert(log.seq == 0L && log.get(0).getInt(1) == 7)
    assert(log.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
  }

  test("a local append of 64 struct rows runs 0 Spark jobs, one segment") {
    val dir = tmpDir("da-64-") + "/log"
    val log = ParquetLog.open(spark, dir, events(1).schema.head.dataType)
    assert(jobsDuring(log.append(events(64))) == 0)
    assert(jobsDuring(log.append(events(64))) == 0)
    assert(log.seq == 127L)
    assert(segments(dir).map(s => (s.minSeq, s.maxSeq, s.rows)) ==
      List((0L, 63L, 64L), (64L, 127L, 64L)))
    val got = values(log)
    assert(got.map(_._1) == (0L until 128L))
    assert(got.map(_._2.getStruct(1).getLong(0)) ==
      (0L until 64L) ++ (0L until 64L))
    assert(log.get(100).getStruct(1).getString(1) == "e36")
  }

  test("a parquet-scan append still runs its job path") {
    val src = tmpDir("da-src-") + "/in"
    events(64).write.parquet(src)
    val log = ParquetLog.open(spark, tmpDir("da-scan-") + "/log",
      events(1).schema.head.dataType)
    assert(jobsDuring(log.append(spark.read.parquet(src))) > 0)
    assert(log.seq == 63L)
  }

  test("a filtered multi-partition parquet-scan append runs exactly 2 " +
      "jobs (count + write), in input order, with dense seqs") {
    import spark.implicits._
    val src = tmpDir("da-2job-src-") + "/in"
    (0L until 26667L).toDF("value").repartition(4).write.parquet(src)
    // keep the multi-partition job path (no tiny-batch coalesce)
    spark.conf.set("spark.graft.smallAppendCoalesceMaxBytes", "0")
    val log = try ParquetLog.open(spark, tmpDir("da-2job-") + "/log", LongType)
    finally spark.conf.unset("spark.graft.smallAppendCoalesceMaxBytes")
    val in = spark.read.schema("value BIGINT").parquet(src)
      .filter(col("value") % 3L =!= 1L)
    assert(in.rdd.getNumPartitions > 1, "setup: the scan must be multi-partition")
    val expected = in.collect().map(_.getLong(0)).toSeq
    (0 until 3).foreach { b =>
      assert(jobsDuring(log.append(in)) == 2, s"append $b")
    }
    val got = values(log)
    assert(got.map(_._1) == (0L until 3L * expected.length))
    assert(got.map(_._2.getLong(1)) == expected ++ expected ++ expected)
    assert(log.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
  }

  /** `shape` appended to a fresh log: dense seqs over duplicate-free
    * values, each drawn from `input`, on which `get`, `toDF` and fsck
    * agree. Returns the jobs the append ran. */
  private def appendsConsistently(name: String, input: Seq[Long],
      shape: DataFrame, drawn: Long => Long = identity): Int = {
    val log = ParquetLog.open(spark, tmpDir(s"da-$name-") + "/log", LongType)
    val jobs = jobsDuring(log.append(shape))
    val got = values(log)
    val vs = got.map(_._2.getLong(1))
    assert(got.nonEmpty && got.map(_._1) == (0L until got.length.toLong),
      s"$name: seqs not dense from 0")
    assert(log.seq == got.length - 1L)
    assert(vs.distinct == vs, s"$name: a value committed twice")
    assert(vs.forall(v => input.contains(drawn(v))),
      s"$name: a value not drawn from the input")
    got.foreach { case (s, r) => assert(log.get(s) == r, s"$name: get($s)") }
    assert(log.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
    jobs
  }

  test("local relations under limit and a seeded rand filter or " +
      "projection commit dense, drawn-from-input rows with 0 jobs") {
    import spark.implicits._
    val input = (0L until 100L)
    val local = input.toDF("value")
    // Spark folds each shape into one local table scan, so its rows are
    // evaluated once on the driver and take the driver path
    assert(appendsConsistently("limit", input, local.limit(7)) == 0)
    assert(appendsConsistently("rand-filter", input,
      local.filter(rand(7L) < 0.5)) == 0)
    assert(appendsConsistently("rand-project", input,
      local.select((col("value") * 1000L +
        (rand(3L) * 10).cast("long")).as("value")),
      drawn = _ / 1000L) == 0)
  }

  test("segmentTargetFileBytes=1 keeps a local append on the job path " +
      "and its one-file-per-partition layout") {
    val dir = tmpDir("da-nomerge-") + "/log"
    spark.conf.set("spark.graft.segmentTargetFileBytes", "1")
    val log = try ParquetLog.open(spark, dir, events(1).schema.head.dataType)
    finally spark.conf.unset("spark.graft.segmentTargetFileBytes")
    assert(jobsDuring(log.append(events(64))) > 0)
    val segs = segments(dir).sortBy(_.minSeq)
    assert(segs.length > 1, s"expected several part files, got $segs")
    assert(segs.map(_.rows).sum == 64L && log.seq == 63L)
    assert(log.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
  }

  // ---------------------------------------------------------------
  // equivalence: driver path vs job path over the same rows
  // ---------------------------------------------------------------

  /** The same rows and schema as `local`, from a one-partition RDD: a
    * leaf the driver path does not take, staged as one file by a
    * write job (no merge, so the job writer's offset index stays). */
  private def viaJob(local: DataFrame): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, 1),
      local.schema)

  private def footer(path: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(path), spark.sparkContext.hadoopConfiguration))
    try {
      val meta = r.getFooter.getFileMetaData
      val offsetIndexed = r.getFooter.getBlocks.asScala.forall(
        _.getColumns.asScala.forall(c => r.readOffsetIndex(c) != null))
      (meta.getSchema,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
        offsetIndexed)
    } finally r.close()
  }

  private def tail(log: ParquetLog, more: DataFrame): Seq[Row] = {
    val name = "da_tail_" + UUID.randomUUID().toString.replace("-", "")
    val q = log.liveQuery(Live(true), SeqWrap(true))
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      log.append(more)
      q.processAllAvailable()
      spark.table(name).collect().toSeq.sortBy(_.getLong(0))
    } finally q.stop()
  }

  private val cases: Seq[(String, () => DataFrame)] = {
    import spark.implicits._
    Seq(
      "int" -> (() => Seq(1, -2, 3).toDF("value")),
      "string" -> (() => Seq("a", null, "ccc").toDF("value")),
      "struct" -> (() => events(3)),
      "array" -> (() => Seq(Seq(1, 2), Seq.empty[Int], Seq(3)).toDF("value")),
      "map" -> (() => Seq(Map("a" -> 1), Map.empty[String, Int],
        Map("b" -> 2, "c" -> 3)).toDF("value")),
      "decimal" -> (() => Seq("1.25", "-3.50", "1000.00").toDF("value")
        .select(col("value").cast("decimal(10,2)").as("value"))),
      "timestamp" -> (() => Seq("2024-01-01 00:00:00", "1999-12-31 23:59:59.5",
        "2030-06-15 12:00:00").map(Timestamp.valueOf).toDF("value")),
      "binary" -> (() => Seq(Array[Byte](1, 2, 3), Array.emptyByteArray,
        Array[Byte](-1)).toDF("value"))
    )
  }

  for ((name, mk) <- cases)
    test(s"driver and job paths write equivalent $name segments") {
      val local = mk()
      val vType = local.schema.head.dataType
      val dDriver = tmpDir(s"da-eq-$name-d-") + "/log"
      val dJob = tmpDir(s"da-eq-$name-j-") + "/log"
      val driver = ParquetLog.open(spark, dDriver, vType)
      val job = ParquetLog.open(spark, dJob, vType)
      assert(jobsDuring(driver.append(local)) == 0, "driver path not taken")
      assert(jobsDuring(job.append(viaJob(local))) > 0, "job path not taken")

      val List(sd) = segments(dDriver)
      val List(sj) = segments(dJob)
      val (schemaD, metaD, indexedD) = footer(FileIO.join(dDriver, sd.path))
      val (schemaJ, metaJ, indexedJ) = footer(FileIO.join(dJob, sj.path))
      assert(schemaD == schemaJ, s"parquet schema: driver\n$schemaD\njob\n$schemaJ")
      assert(metaD != null && metaD == metaJ, "Spark row metadata differs")
      assert(indexedD && indexedJ, "a segment lacks its offset index")
      assert((sd.minSeq, sd.maxSeq, sd.rows) == (sj.minSeq, sj.maxSeq, sj.rows))

      // a nulled entry answers its error, compared by class
      def answers(log: ParquetLog): Seq[Any] = Seq(
        (0L to log.seq).map(s =>
          scala.util.Try(log.get(s)).fold(_.getClass.getName, identity)),
        log.getMany(Seq(0L, 2L)).toSeq,
        log.query(Gte(1L), Limit(2L)).collect().toSeq,
        log.query(Reverse(true), Limit(2L), SeqWrap(true)).collect().toSeq,
        values(log))
      assert(answers(driver) == answers(job), "reads differ")

      assert(tail(driver, local) == tail(job, viaJob(local)),
        "live tails differ")
      assert(driver.seq == 5L && job.seq == 5L)

      driver.nullAt(1L)
      job.nullAt(1L)
      intercept[GraftErrors.ErrNulled](driver.get(1L))
      intercept[GraftErrors.ErrNulled](job.get(1L))
      assert(values(driver) == values(job), "nullAt results differ")

      driver.compact()
      job.compact()
      assert(segments(dDriver).length == 1 && segments(dJob).length == 1)
      assert(answers(driver) == answers(job), "reads after compact differ")
      assert(driver.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
      assert(job.checkConsistency(repair = false, minAgeMs = 0L).isEmpty)
    }
}
