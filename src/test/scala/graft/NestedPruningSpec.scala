package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage.{ParquetLog, TableStore}

/** Nested column pruning through the `graft-log` and `graft-table`
  * scans: Spark's pruned `value` struct reaches the scan's read schema
  * (in table order), both readers clip the parquet request to it, and
  * the rows equal the unpruned row leg's — also when a concurrent
  * rewrite makes the columnar plan re-resolve a vanished file through
  * the row reader (`RowRepackReader`). */
class NestedPruningSpec extends SparkSpec {

  /** `value` of row `id`: a struct with a leaf per reader concern —
    * plain leaves, a struct inside an array, a struct inside a map. */
  private val valueExpr: Column = struct(
    col("id").as("user_id"),
    (col("id") * 1.5).as("amount"),
    concat(lit("n"), col("id")).as("name"),
    array(struct((col("id") % 3).as("w"), concat(lit("t"), col("id")).as("tag")))
      .as("tags"),
    map(lit("x"), struct(col("id").cast("int").as("a"),
      concat(lit("b"), col("id")).as("b"))).as("props"))

  private def mkLog(): (ParquetLog, String) = {
    val dir = tmpDir("nprune-") + "/log"
    val log = ParquetLog.open(spark, dir)
    // three segments, so a per-segment plan has a planned file to lose
    for (i <- 0 until 3)
      log.append(spark.range(i * 100L, (i + 1) * 100L).select(valueExpr.as("value"))
        .coalesce(1))
    (log, dir)
  }

  private def readSchema(df: DataFrame): StructType =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(df.queryExecution.executedPlan.toString))
      .scan.readSchema()

  /** `df`'s rows through the scan's readers (a Spark job: a small root
    * collect would be answered on the driver instead). */
  private def rows(df: DataFrame): Seq[Row] =
    df.rdd.collect().toSeq.sortBy(_.toString)

  /** `df`'s rows on the columnar leg and with `columnar.enabled=false`. */
  private def bothLegs(df: => DataFrame): (Seq[Row], Seq[Row]) = {
    val columnar = rows(df)
    spark.conf.set("spark.graft.columnar.enabled", "false")
    try (columnar, rows(df))
    finally spark.conf.unset("spark.graft.columnar.enabled")
  }

  /** (name, query, the read schema it must plan). */
  private val logQueries: Seq[(String, DataFrame => DataFrame, String)] = Seq(
    ("value.user_id", _.select("value.user_id"),
      "struct<value:struct<user_id:bigint>>"),
    ("sum(value.amount)", _.agg(sum("value.amount")),
      "struct<value:struct<amount:double>>"),
    ("two leaves, table order", _.select("value.name", "value.user_id"),
      "struct<value:struct<user_id:bigint,name:string>>"),
    ("struct inside an array", _.select(col("value.tags.tag")),
      "struct<value:struct<tags:array<struct<tag:string>>>>"),
    ("struct inside a map", _.select(col("value.props").getItem("x").getField("b")),
      "struct<value:struct<props:map<string,struct<b:string>>>>")
  )

  test("graft-log: the read schema keeps Spark's pruned value struct and " +
    "the rows match the row leg") {
    val (_, dir) = mkLog()
    for ((name, q, want) <- logQueries) {
      val df = q(spark.read.format("graft-log").load(dir))
      assert(readSchema(df).simpleString == want, name)
      val (columnar, row) = bothLegs(q(spark.read.format("graft-log").load(dir)))
      assert(columnar == row, name)
      assert(columnar.nonEmpty, name)
    }
    // the answers themselves, against the generator
    val all = spark.read.format("graft-log").load(dir)
    assert(all.agg(sum("value.amount")).head.getDouble(0) ==
      (0 until 300).map(_ * 1.5).sum)
    assert(rows(all.select(col("value.props").getItem("x").getField("b")))
      .map(_.getString(0)).sorted == (0 until 300).map(i => s"b$i").sorted)
  }

  test("graft-log: pruned rows stay exact when a concurrent rewrite " +
    "re-resolves a vanished file (RowRepackReader)") {
    for ((name, q, _) <- logQueries.filter(_._1 != "sum(value.amount)")) {
      val (log, dir) = mkLog()
      // per-segment partitions: the plan commits to columnar, then a
      // nullAt replaces the planned file of segment 1
      val df = q(spark.read.format("graft-log")
        .option("maxPartitionBytes", "1").load(dir).where(col("seq") =!= 150L))
      val want = rows(df)
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      val rdd = df.rdd
      log.nullAt(150L)
      assert(rdd.collect().toSeq.sortBy(_.toString) == want, name)
    }
  }

  test("graft-table: the read schema keeps Spark's pruned struct and the " +
    "rows match the row leg") {
    val dir = tmpDir("nprune-") + "/table"
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("v", spark.range(1).select(valueExpr).schema.head.dataType)))
    val store = TableStore.open(spark, dir, schema)
    for (i <- 0 until 3)
      store.append(spark.range(i * 100L, (i + 1) * 100L)
        .select(concat(lit("k"), col("id")).as("k"), valueExpr.as("v")))
    val queries: Seq[(DataFrame => DataFrame, String)] = Seq(
      (_.select("v.user_id"), "struct<v:struct<user_id:bigint>>"),
      (_.agg(sum("v.amount")), "struct<v:struct<amount:double>>"),
      (_.select(col("v.tags.w")), "struct<v:struct<tags:array<struct<w:bigint>>>>"))
    for ((q, want) <- queries) {
      val df = q(spark.read.format("graft-table").load(dir))
      assert(readSchema(df).simpleString == want)
      val (columnar, row) = bothLegs(q(spark.read.format("graft-table").load(dir)))
      assert(columnar == row && columnar.nonEmpty)
    }
    assert(spark.read.format("graft-table").load(dir).agg(sum("v.user_id"))
      .head.getLong(0) == (0 until 300).sum)
  }
}
