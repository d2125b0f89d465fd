package graft

import org.apache.spark.sql.types.LongType

import graft.storage.{ParquetLog, TableStore}

/** A malformed `spark.graft.*` value fails naming its key and value,
  * for each type the engine parses. */
class GraftConfSpec extends SparkSpec {

  private def rejected(key: String, value: String)(body: => Any): Unit = {
    spark.conf.set(key, value)
    val e = try intercept[IllegalArgumentException](body)
    finally spark.conf.unset(key)
    assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"),
      s"message names neither key nor value: ${e.getMessage}")
  }

  test("a malformed long key names the key and the value") {
    rejected("spark.graft.segmentTargetFileBytes", "32MB") {
      ParquetLog.open(spark, tmpDir("conf-log-") + "/log", LongType)
    }
    rejected("spark.graft.smallAppendCoalesceMaxBytes", "1e6") {
      TableStore.open(spark, tmpDir("conf-table-"),
        spark.range(1).schema)
    }
  }

  test("a malformed boolean key names the key and the value") {
    import spark.implicits._
    val log = ParquetLog.open(spark, tmpDir("conf-bool-") + "/log", LongType)
    log.append(Seq(1L, 2L).toDF("value"))
    rejected("spark.graft.columnar.enabled", "yes") {
      spark.read.format("graft-log").load(log.dir).collect()
    }
  }
}
