package graft

import org.apache.spark.sql.types.LongType

import graft.compat.Offset2
import graft.storage.{ParquetLog, TableStore}

/** A malformed `spark.graft.*` value, or a malformed numeric read option
  * of a connector, fails naming its key or option and the value, for
  * each type the engine parses. */
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

  private def optionRejected(option: String, value: String)(
      read: (String, String) => Any): Unit = {
    val e = intercept[IllegalArgumentException](read(option, value))
    assert(e.getMessage.contains(option) && e.getMessage.contains(s"'$value'"),
      s"message names neither option nor value: ${e.getMessage}")
  }

  test("a malformed graft-log read option names the option and the value") {
    import spark.implicits._
    val log = ParquetLog.open(spark, tmpDir("conf-opt-log-") + "/log", LongType)
    log.append(Seq(1L, 2L).toDF("value"))
    for ((opt, v) <- Seq("maxSeqsPerTrigger" -> "10k",
        "maxBytesPerTrigger" -> "1MB", "maxSegmentsPerTrigger" -> "all",
        "maxPartitionBytes" -> "64m"))
      optionRejected(opt, v) { (o, x) =>
        spark.read.format("graft-log").option(o, x).load(log.dir).rdd.count()
      }
  }

  test("a malformed graft-table read option names the option and the value") {
    import spark.implicits._
    val t = TableStore.open(spark, tmpDir("conf-opt-table-"),
      spark.range(1).schema)
    t.append(Seq(1L, 2L).toDF("id"))
    for ((opt, v) <- Seq("maxBytesPerTrigger" -> "1MB",
        "maxSegmentsPerTrigger" -> "all", "versionAsOf" -> "v1",
        "maxPartitionBytes" -> "64m"))
      optionRejected(opt, v) { (o, x) =>
        spark.read.format("graft-table").option(o, x).load(t.dir).rdd.count()
      }
  }

  test("a malformed graft-offset2 read option names the option and the value") {
    val dir = tmpDir("conf-opt-o2-")
    Offset2.write(dir, Iterator(("a".getBytes("UTF-8"), false)))
    for ((opt, v) <- Seq("maxEntriesPerTrigger" -> "10k",
        "maxBytesPerTrigger" -> "1MB", "maxPartitionBytes" -> "64m"))
      optionRejected(opt, v) { (o, x) =>
        spark.read.format("graft-offset2").option(o, x).load(dir).rdd.count()
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
