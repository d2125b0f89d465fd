package graft

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.Gen

import graft.storage.{FileIO, Manifest, ParquetLog, Segment, TableStore}

/** Every segment writer fed the same input shapes, asserting what the
  * commit must keep whatever plan produced the rows:
  *
  *   - writers: `ParquetLog.append` with the small-append cut on (a
  *     local batch takes the driver path, a small scan one coalesced
  *     task) and off (every shape on the multi-partition job path),
  *     and `TableStore.append(df, sortWithin)` with the cut on and off;
  *   - shapes: local rows, a parquet scan, filter, `orderBy`,
  *     `groupBy`, `repartition(n)`, empty, a single row, `limit`;
  *   - each once with the default fold of staged files and once with
  *     `spark.graft.segmentMergeDriverMaxBytes=0` (the fold job);
  *   - asserted: the exact committed row multiset (a `limit` only draws
  *     distinct input rows, of the right count), log seqs dense from
  *     the append's base, every row group of a file sorted by the
  *     store's layout, each manifest entry's rows, bytes (and log seq
  *     range) equal to its file's footer and size, no staging dir left
  *     behind, and a clean fsck.
  */
class WriterShapeSpec extends SparkSpec {
  import WriterShapeSpec.Shape
  import spark.implicits._

  private val inputSchema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("id", LongType, nullable = false)))
  private val tableSort = Seq("k", "id")

  /** Source rows and the `repartition(n)` width, drawn once. */
  private val (sourceRows, parts) = Gen.zip(Gen.choose(1500, 2500),
    Gen.choose(3, 7)).apply(Gen.Parameters.default,
    org.scalacheck.rng.Seed(14L)).get

  private val shapes: Seq[Shape] = {
    val local = (0L until 200L).map(i => (s"k${i % 5}", i * 7 + 1))
    Seq(
      Shape("local rows", _ => local.toDF("k", "id")),
      Shape("parquet scan", identity),
      Shape("filter", _.filter(col("id") % 3 =!= 1)),
      Shape("orderBy", _.orderBy(col("id").desc)),
      Shape("groupBy", _.groupBy("k").agg(max("id").as("id"))),
      Shape("repartition", _.repartition(parts)),
      Shape("empty", _.where(lit(false))),
      Shape("single row", _.where(col("id") === sourceRows / 2 * 3 + 2)),
      Shape("limit", _.limit(37), exact = false))
  }

  /** A parquet source of 4 files, `(k, id)` with distinct ids. */
  private lazy val source: String = {
    val dir = tmpDir("ws-src-") + "/in"
    spark.range(0, sourceRows).select(
      concat(lit("k"), (col("id") % 11).cast("string")).as("k"),
      (col("id") * 3 + 2).as("id"))
      .repartition(4).write.parquet(dir)
    dir
  }

  private def scan: DataFrame = spark.read.schema(inputSchema).parquet(source)

  private def withConf[T](kv: Seq[(String, String)])(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private val cutOff = Seq("spark.graft.smallAppendCoalesceMaxBytes" -> "0")
  private val foldJob = Seq("spark.graft.segmentMergeDriverMaxBytes" -> "0")

  /** The rows of every row group of `file`, in file order, as
    * `column -> value` for the `cols` asked. */
  private def rowGroups(file: String, cols: Seq[String]): Seq[Seq[Seq[Any]]] = {
    val r = ParquetFileReader.open(FileIO.forPath(file).inputFile(file))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(schema)
      Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null).map {
        pages =>
          val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
          (0L until pages.getRowCount).map { _ =>
            val g: Group = rr.read()
            cols.map { c =>
              schema.getType(schema.getFieldIndex(c)).asPrimitiveType.getPrimitiveTypeName.name match {
                case "INT64" => g.getLong(c, 0)
                case _ => g.getString(c, 0)
              }
            }
          }
      }.toList
    } finally r.close()
  }

  private def ordered(rows: Seq[Seq[Any]]): Boolean =
    rows.sliding(2).forall {
      case Seq(a, b) => (a zip b).map {
        case (x: Long, y: Long) => x.compare(y)
        case (x, y) => x.toString.compare(y.toString)
      }.find(_ != 0).getOrElse(0) <= 0
      case _ => true
    }

  /** Entries equal to their files, row groups in `sortCols` order, no
    * staging dir, and a clean fsck (`fsck` of the store). */
  private def checkFiles(dir: String, segs: List[Segment],
      sortCols: Seq[String], seqRange: Boolean, fsck: => List[String]): Unit = {
    val io = FileIO.forPath(dir)
    segs.foreach { s =>
      val f = FileIO.join(dir, s.path)
      val r = ParquetFileReader.open(io.inputFile(f))
      try {
        val blocks = r.getFooter.getBlocks.asScala
        assert(blocks.map(_.getRowCount).sum == s.rows, s"rows of ${s.path}")
        if (seqRange && s.rows > 0) {
          val st = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == "seq").get.getStatistics)
          assert(st.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min ==
            s.minSeq && st.map(_.genericGetMax.asInstanceOf[java.lang.Long]
              .longValue).max == s.maxSeq, s"seq range of ${s.path}")
        }
      } finally r.close()
      assert(s.bytes.contains(io.size(f)), s"bytes of ${s.path}")
      rowGroups(f, sortCols).foreach(g =>
        assert(ordered(g), s"a row group of ${s.path} is not sorted by $sortCols"))
    }
    val litter = io.list(dir).map(_.name).filter(_.startsWith("tmp-"))
    assert(litter.isEmpty, s"staging dirs left behind: $litter")
    assert(fsck.isEmpty, s"fsck: $fsck")
  }

  /** What `shape` should commit, and whether `got` is it. */
  private def matches(shape: Shape, input: DataFrame, got: Seq[(String, Long)]): Unit = {
    val want = input.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    if (shape.exact)
      assert(got.sorted == want.sorted, "committed rows differ from the input")
    else {
      val all = scan.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got.length == want.length && got.distinct == got &&
        got.forall(all), "committed rows are not distinct input rows")
    }
  }

  /** `(k, id)` as the log's struct value, both fields nullable
    * whatever the shape derived. */
  private def value(df: DataFrame): DataFrame = df.select(struct(
    Seq("k", "id").map(c => when(col(c).isNotNull, col(c)).as(c)): _*)
    .as("value"))

  private def logCase(conf: Seq[(String, String)], shape: Shape): Unit = {
    val dir = tmpDir("ws-log-") + "/log"
    val log = withConf(conf)(ParquetLog.open(spark, dir, inputSchema))
    log.append(value(Seq(("base", 0L), ("base", 1L)).toDF("k", "id")))
    val input = shape.build(scan)
    val base = log.append(value(input))
    assert(base == 2L)
    val rows = log.toDF.where(col("seq") >= base)
      .select(col("seq"), col("value.k"), col("value.id"), col("nulled"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2)),
        r.getBoolean(3))).sortBy(_._1).toSeq
    assert(rows.map(_._1) == (base until base + rows.length),
      "seqs are not dense from the base")
    assert(log.seq == base + rows.length - 1)
    assert(!rows.exists(_._3), "a fresh row is nulled")
    matches(shape, input, rows.map(_._2))
    checkFiles(dir, Manifest.load(dir).get.segments, Seq("seq"),
      seqRange = true, log.checkConsistency(repair = false, minAgeMs = 0L))
  }

  private def tableCase(conf: Seq[(String, String)], shape: Shape): Unit = {
    val dir = tmpDir("ws-table-")
    val t = withConf(conf)(TableStore.open(spark, dir, inputSchema))
    t.append(Seq(("base", 0L), ("base", 1L)).toDF("k", "id"), tableSort)
    val input = shape.build(scan)
    assert(t.append(input, tableSort) == 2L)
    val m = Manifest.load(dir).get
    assert(m.segments.exists(s => s.minSeq == 2L && s.maxSeq == 2L),
      "the commit recorded no entry at its version")
    val rows = t.readVersioned.where(col("_ver") === 2L).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    matches(shape, input, rows)
    checkFiles(dir, m.segments, tableSort, seqRange = false,
      t.checkConsistency(repair = false, minAgeMs = 0L))
  }

  private val writers: Seq[(String, Seq[(String, String)] => Shape => Unit)] = Seq(
    ("log append, small-append cut on", c => logCase(c, _)),
    ("log append, job path (cut off)", c => logCase(cutOff ++ c, _)),
    ("table append, small-append cut on", c => tableCase(c, _)),
    ("table append, cut off", c => tableCase(cutOff ++ c, _)))

  for ((writer, run) <- writers; (fold, conf) <- Seq(
      "driver fold" -> Nil, "fold job" -> foldJob))
    test(s"$writer, $fold: every input shape commits exactly") {
      shapes.foreach { shape =>
        withClue(s"[${shape.name}] ")(run(conf)(shape))
      }
    }
}

object WriterShapeSpec {

  /** A named input over a parquet source of `(k, id)` rows; `exact`
    * false for a shape whose rows Spark may pick differently per run. */
  final case class Shape(name: String, build: DataFrame => DataFrame,
      exact: Boolean = true)
}
