package graft

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, expr}

import graft.core.QuerySpec
import graft.core.QuerySpec._
import graft.plans.{DriverLogCollectExec, OrderedLogScan}
import graft.storage.{FileIO, Manifest, ParquetLog}

/** The driver answer of small graft-log collects
  * ([[graft.plans.DriverLogCollectExec]]):
  *
  *   - equivalence: `df.collect()` (driver, asserted job-free) and
  *     `df.rdd.collect()` (the same plan's `doExecute`, a job) agree
  *     for every value type the driver converter admits, over the
  *     QuerySpec algebra, redacted rows, and segments with and without
  *     page indexes; a type no reader converts is refused at open
  *     and at the first append;
  *   - refusals: a planned file gone under a concurrent rewrite, more
  *     rows than the cut, more files than `SliceRead` opens — each
  *     runs the job path and gets the job path's answer;
  *   - observability: the node's SQL metrics and plan string.
  */
class DriverScanSpec extends SparkSpec {

  /** Rows in a comparable form: binary values compare by content. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => norm(k) -> norm(x) }
    case other => other
  }

  /** `df` collected on the driver (asserting no job ran) and through
    * the job path; both answers. */
  private def both(df: DataFrame): (Seq[Any], Seq[Any]) = {
    var d: Array[Row] = null
    assert(jobsDuring { d = df.collect() } == 0,
      df.queryExecution.executedPlan.toString)
    (d.toSeq.map(norm), df.rdd.collect().toSeq.map(norm))
  }

  private def driverNode(df: DataFrame): DriverLogCollectExec =
    df.queryExecution.executedPlan.collectFirst {
      case d: DriverLogCollectExec => d
    }.getOrElse(fail(s"no driver node:\n${df.queryExecution.executedPlan}"))

  private def metric(df: DataFrame, name: String): Long =
    driverNode(df).metrics(name).value

  private def files(dir: String): List[String] =
    Manifest.load(dir).get.segments.sortBy(_.minSeq)
      .map(s => FileIO.join(dir, s.path))

  private def hasPageIndex(file: String): Boolean = {
    val r = ParquetFileReader.open(FileIO.forPath(file).inputFile(file))
    try r.readOffsetIndex(r.getRowGroups.get(0).getColumns.get(0)) != null
    finally r.close()
  }

  private def rowGroups(file: String): Int = {
    val r = ParquetFileReader.open(FileIO.forPath(file).inputFile(file))
    try r.getRowGroups.size finally r.close()
  }

  /** A log of `value = e(id)` over seqs 0..29 in three segments:
    * [0, 10) and [20, 30) written by the job path, [10, 20) staged as
    * three files and concat-merged into one segment of three row
    * groups with no page index; seq 25 redacted. */
  private def mkLog(e: String): ParquetLog = {
    val dir = tmpDir("dscan-") + "/log"
    def values(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(expr(e).as("value"))
    ParquetLog.open(spark, dir, values(0, 1).schema.head.dataType)
      .append(values(0, 10).coalesce(1))
    spark.conf.set("spark.graft.smallAppendCoalesceMaxBytes", "0")
    try ParquetLog.open(spark, dir).append(values(10, 20).repartition(3))
    finally spark.conf.unset("spark.graft.smallAppendCoalesceMaxBytes")
    val log = ParquetLog.open(spark, dir)
    log.append(values(20, 30).coalesce(1))
    log.nullAt(25)
    val fs = files(dir)
    assert(fs.length == 3 && rowGroups(fs(1)) == 3 && !hasPageIndex(fs(1)) &&
      hasPageIndex(fs(0)) && hasPageIndex(fs(2)))
    log
  }

  /** Value types the driver converter admits, as `id` expressions
    * with nulls and nested nulls. */
  private val types: Seq[(String, String)] = Seq(
    "long" -> "id",
    "int" -> "cast(id as int)",
    "short" -> "cast(id as short)",
    "byte" -> "cast(id as byte)",
    "double" -> "id * 1.5d",
    "float" -> "cast(id as float) / 4",
    "boolean" -> "id % 3 = 0",
    "string" -> "if(id % 7 = 3, null, concat('s', id))",
    "binary" -> "cast(concat('b', id) as binary)",
    "date" -> "date_add(date'1969-12-25', cast(id as int))",
    "timestamp" -> "timestamp_seconds(id * 3601 - 50000)",
    "timestamp_ntz" -> "cast(timestamp_seconds(id * 3601) as timestamp_ntz)",
    "decimal(9,2)" -> "cast(id / 7 as decimal(9,2))",
    "decimal(30,5)" -> "cast(id * 1000000000000.5 as decimal(30,5))",
    "struct" ->
      "named_struct('a', id, 's', if(id % 4 = 0, null, concat('x', id)))",
    "array" -> "if(id % 5 = 0, null, array(id, null, id + 1))",
    "array<struct>" -> "array(named_struct('k', id), null)",
    "map" -> "map(concat('k', id), if(id % 2 = 0, null, id), 'z', 0L)"
  )

  test("every admitted value type: driver and job answers agree across " +
    "segments, a concat-merged segment and a redacted row") {
    for ((name, e) <- types) {
      val log = mkLog(e)
      val queries = Seq(
        log.query(Gt(4), Lt(25), Limit(100), SeqWrap(true)),
        log.query(Reverse(true), Limit(12), SeqWrap(true)),
        log.query(Gte(8), Lte(26)),
        log.toDF)
      for (q <- queries) {
        val (d, j) = both(q)
        assert(d == j, s"$name: ${q.queryExecution.executedPlan}")
      }
      val whole = log.toDF.collect().map(r => r.getLong(0) -> r).toMap
      assert(whole.keySet == (0L until 30L).toSet, name)
      assert(whole(25L).isNullAt(1) && whole(25L).getBoolean(2), name)
      assert(!whole(24L).getBoolean(2), name)
    }
  }

  test("a value type no log reader converts is refused at open and " +
    "at the first append") {
    // no reader, on the driver or in a job, converts a day-time
    // interval; the other refusal cases here cover the fallback to the
    // job path
    val interval = spark.range(3).select(
      expr("make_dt_interval(0, cast(id as int), 0, 0)").as("value"))
    val dt = interval.schema.head.dataType
    val nested = interval.select(
      org.apache.spark.sql.functions.struct(col("value").as("d")).as("value"))
    val refused = tmpDir("dscan-") + "/log"
    val e1 = intercept[IllegalArgumentException](
      ParquetLog.open(spark, refused, nested.schema.head.dataType))
    assert(e1.getMessage.contains(dt.sql), e1.getMessage)
    assert(!FileIO.forPath(refused).exists(refused))
    val dir = tmpDir("dscan-") + "/log"
    val log = ParquetLog.open(spark, dir)
    for (values <- Seq(interval, nested)) {
      val e2 = intercept[IllegalArgumentException](log.append(values))
      assert(e2.getMessage.contains(dt.sql), e2.getMessage)
    }
    assert(log.seq == -1 && Manifest.load(dir).get.segments.isEmpty)
  }

  private def combos: Seq[Seq[QuerySpec]] = {
    val lowers = Seq(None, Some(Gt(4)), Some(Gte(10)), Some(Gt(40)))
    val uppers = Seq(None, Some(Lt(15)), Some(Lt(0)))
    val dirs = Seq(None, Some(Reverse(true)))
    val limits = Seq(None, Some(Limit(0)), Some(Limit(3)))
    val wraps = Seq(None, Some(SeqWrap(true)))
    val grid = for {
      l <- lowers; u <- uppers; d <- dirs; n <- limits; w <- wraps
    } yield Seq(l, u, d, n, w).flatten
    grid ++ Seq(
      Seq(Gte(9), Lte(20), SeqWrap(true)), // exactly spans a segment
      Seq(Gte(19), Lte(20), Reverse(true), SeqWrap(true)),
      Seq(Gte(29), Limit(100), SeqWrap(true)), // the last row
      Seq(Gte(30), SeqWrap(true)), // past the end
      Seq(Lte(Long.MaxValue), Reverse(true), Limit(100), SeqWrap(true)),
      Seq(Gt(Long.MaxValue), SeqWrap(true)),
      Seq(Gte(-5), Lt(-1)),
      Seq(Limit(-1), Reverse(true)))
  }

  test("the QuerySpec algebra: driver and job answers agree for every " +
    "bound, limit, direction and seqWrap combination") {
    val log = mkLog(types.find(_._1 == "struct").get._2)
    for (specs <- combos) {
      val q = log.query(specs: _*)
      // Limit(0) is folded away by the optimizer
      if (!specs.contains(Limit(0)))
        assert(q.queryExecution.executedPlan.exists(_.isInstanceOf[BatchScanExec]))
      val (d, j) = both(q)
      assert(d == j, specs)
      val seqs = log.query((specs :+ SeqWrap(true)).distinct: _*)
        .collect().map(_.getLong(0)).toSeq
      val plan = graft.core.QueryPlan.of(specs: _*)
      val inRange = (0L until 30L).filter(s =>
        plan.lower.forall(s >= _) && plan.upper.forall(s < _))
      val ordered = if (plan.reverse) inRange.reverse else inRange
      assert(seqs ==
        (if (plan.limit >= 0) ordered.take(plan.limit.toInt) else ordered),
        specs)
    }
  }

  test("take, head and isEmpty answer on the driver too") {
    val log = mkLog("id")
    val q = log.query(Gte(5), SeqWrap(true))
    var got = (Seq.empty[Long], Seq.empty[Long], false, false)
    assert(jobsDuring {
      got = (
        q.queryExecution.executedPlan.executeTake(3).map(_.getLong(0)).toSeq,
        log.query(Reverse(true), SeqWrap(true)).head(2).map(_.getLong(0)).toSeq,
        log.toDF.isEmpty,
        log.query(Gt(40)).isEmpty)
    } == 0)
    assert(got == ((Seq(5L, 6L, 7L), Seq(29L, 28L), false, true)))
  }

  test("a rewrite between planning and collect: the planned file is " +
    "gone, the job path answers from the rewritten file") {
    val log = mkLog("id")
    val q = log.query(Gt(4), Lt(25), Limit(100), SeqWrap(true))
    q.queryExecution.executedPlan // planned against the current files
    val planned = files(log.dir)
    log.nullAt(7)
    assert(!FileIO.forPath(planned.head).exists(planned.head))
    var got: Array[Row] = null
    assert(jobsDuring { got = q.collect() } > 0)
    assert(metric(q, "fallback") == 1)
    assert(got.map(_.getLong(0)).toSeq == (5L to 24L))
    val seven = got.find(_.getLong(0) == 7L).get
    assert(seven.isNullAt(1) && seven.getBoolean(2))
    assert(got.filter(_.getBoolean(2)).map(_.getLong(0)).toSeq == Seq(7L))
    // planned afresh, the driver answers the same
    val (d, j) = both(log.query(Gt(4), Lt(25), Limit(100), SeqWrap(true)))
    assert(d == j && d == got.toSeq.map(norm))
  }

  test("over the cut and over the file bound the job path answers; " +
    "below both the driver does") {
    val cut = OrderedLogScan.DriverCollectMaxRows
    val dir = tmpDir("dscan-cut-") + "/log"
    val log = ParquetLog.open(spark, dir, org.apache.spark.sql.types.LongType)
    log.append(spark.range(0, cut + 1).select(col("id").as("value")))
    val all = log.query(SeqWrap(true))
    assert(!all.queryExecution.executedPlan.exists(
      _.isInstanceOf[DriverLogCollectExec]))
    var n = 0L
    assert(jobsDuring { n = all.collect().length.toLong } > 0)
    assert(n == cut + 1)
    val atCut = log.query(Reverse(true), Limit(cut), SeqWrap(true))
    var last = (0, 0L)
    assert(jobsDuring {
      val rs = atCut.collect()
      last = (rs.length, rs.last.getLong(0))
    } == 0)
    assert(last == ((cut.toInt, 1L)))

    val many = ParquetLog.open(spark, tmpDir("dscan-files-") + "/log",
      org.apache.spark.sql.types.LongType)
    import spark.implicits._
    (0 until 33).foreach(i => many.appendValues(Seq(i.toLong)))
    val q = many.query(Limit(100), SeqWrap(true))
    var got: Seq[Long] = Nil
    assert(jobsDuring { got = q.collect().map(_.getLong(0)).toSeq } > 0)
    assert(got == (0L until 33L) && metric(q, "fallback") == 1)
    many.compact()
    assert(jobsDuring {
      got = many.query(Limit(100), SeqWrap(true)).collect()
        .map(_.getLong(0)).toSeq
    } == 0)
    assert(got == (0L until 33L))
  }

  test("the driver node reports its rows, files and fallback as SQL " +
    "metrics and names its cut") {
    val log = mkLog("id")
    val q = log.query(Gt(4), Lt(25), Limit(100), SeqWrap(true))
    q.collect()
    val node = driverNode(q)
    assert(node.metrics.keySet == Set("driverRows", "driverFiles", "fallback"))
    assert(metric(q, "driverRows") == 20 && metric(q, "driverFiles") == 3 &&
      metric(q, "fallback") == 0)
    val tail = log.query(Reverse(true), Limit(5), SeqWrap(true))
    tail.collect()
    assert(metric(tail, "driverRows") == 5 && metric(tail, "driverFiles") == 1)
    val cut = OrderedLogScan.DriverCollectMaxRows
    assert(node.simpleString(10) == s"DriverLogCollect cut=$cut rows")
    val explained = q.queryExecution.executedPlan.toString
    assert(explained.contains(s"DriverLogCollect cut=$cut rows") &&
      explained.contains("BatchScan"))
    // the job path of the same frame leaves the driver node's metrics
    // alone: `df.rdd` plans and runs without it
    q.rdd.collect()
    assert(metric(q, "driverRows") == 20 && metric(q, "fallback") == 0)
  }
}
