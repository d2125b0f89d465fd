package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.core.QuerySpec.Limit
import graft.indexes.{KVIndex, MultiLogSink, SinkIndex}
import graft.multilog.MultiLog
import graft.storage.ParquetLog

/** The two routes of an incremental view pump give the same views: a
  * small increment collected on the driver and committed with no Spark
  * job, and the lazy job-path batch (row bound 0). Also pinned: an
  * increment over the log's byte cut and a transform Spark cannot fold
  * take the job path and stay correct, and the single-row writes of
  * the views run no job. */
class PumpPathSpec extends SparkSpec {
  import spark.implicits._

  private val valueType = StructType(Seq(
    StructField("k", StringType), StructField("n", IntegerType)))

  /** Entries `from until to` as `(k = u<i % 7>, n = i)`. */
  private def entries(from: Int, to: Int): DataFrame =
    (from until to).map(i => (s"u${i % 7}", i)).toDF("k", "n")
      .select(struct(col("k"), col("n")).as("value"))

  private def newLog(conf: Seq[(String, String)] = Nil): ParquetLog = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val log = ParquetLog.open(spark, tmpDir("pp-log"), valueType)
      log.append(entries(0, 40))
      log.nullAt(5)
      log.nullAt(38) // u3's last entry: the state keeps u3 = 31
      log
    } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def kvProc(b: DataFrame): DataFrame = b.select(
    col("value.k").as("addr"), col("value.n").cast("string").as("value"),
    col("seq").as("useq"))

  private def fanout(b: DataFrame): DataFrame =
    b.select(col("value.k").as("addr"), col("seq"))

  /** Last live `n` per key over entries `0 until to` with `nulled` redacted. */
  private def model(to: Int, nulled: Set[Int]): Map[String, String] =
    (0 until to).filterNot(nulled).map(i => s"u${i % 7}" -> i.toString).toMap

  private def kvState(kv: KVIndex): Map[String, String] =
    kv.current.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def sublogs(m: MultiLog): Map[String, Seq[Long]] =
    m.table.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (a, rs) => a -> rs.map(_._2).sorted }

  /** The driver route's row bound, and the job route's. */
  private val bounds = Seq(graft.plans.OrderedLogScan.DriverCollectMaxRows, 0L)

  /** Pump `log` through `proc` into a fresh KV index (a watcher on
    * `u3`) by each route; returns each index, the jobs its pump ran
    * and its watcher's deliveries. */
  private def bothKv(log: ParquetLog, proc: DataFrame => DataFrame)
      : Seq[(KVIndex, Int, ArrayBuffer[Option[String]])] =
    bounds.map { bound =>
      val kv = KVIndex.open(spark, tmpDir("pp-kv"))
      val seen = ArrayBuffer.empty[Option[String]]
      kv.watch("u3")(v => { seen.synchronized(seen += v); () })
      val jobs = jobsDuring(assert(SinkIndex.pump(log, kv, proc, bound) == 40L))
      (kv, jobs, seen)
    }

  test("driver and job KV pumps commit the same state, skip nulled entries and fire watchers") {
    val log = newLog()
    val kvs = bothKv(log, kvProc)
    assert(kvs(0)._2 == 0, "the small increment's pump ran Spark jobs")
    assert(kvs(1)._2 > 0, "the row bound 0 did not force the job path")
    kvs.foreach { case (kv, _, _) =>
      assert(kvState(kv) == model(40, Set(5, 38)))
      assert(kv.get("u3").contains("31"), "a nulled entry was applied")
    }
    log.append(entries(40, 55))
    log.nullAt(52) // u3 again: the state moves to 45
    val again = kvs.zip(bounds).map { case ((kv, _, _), bound) =>
      jobsDuring(assert(SinkIndex.pump(log, kv, kvProc, bound) == 15L))
    }
    assert(again.head == 0 && again(1) > 0, s"second pump jobs: $again")
    val want = model(55, Set(5, 38, 52))
    kvs.foreach { case (kv, _, seen) =>
      assert(kvState(kv) == want)
      assert(kv.getSeq == 54L)
      assert(seen.synchronized(seen.toList) == List(None, Some("31"), Some("45")),
        "watcher deliveries")
    }
  }

  test("driver and job multilog pumps commit the same sublogs") {
    val log = newLog()
    val runs = bounds.map { bound =>
      val m = MultiLog.open(spark, tmpDir("pp-ml"))
      val cur = KVIndex.open(spark, tmpDir("pp-cur"))
      val jobs = jobsDuring(
        assert(MultiLogSink.pump(log, m, cur, fanout, bound) == 40L))
      (m, cur, jobs)
    }
    assert(runs(0)._3 == 0, "the small increment's pump ran Spark jobs")
    assert(runs(1)._3 > 0, "the row bound 0 did not force the job path")
    log.append(entries(40, 55))
    log.nullAt(41)
    runs.zip(bounds).foreach { case ((m, cur, _), bound) =>
      val jobs = jobsDuring(
        assert(MultiLogSink.pump(log, m, cur, fanout, bound) == 15L))
      assert((jobs == 0) == (bound > 0), s"bound $bound ran $jobs jobs")
    }
    val want = (0 until 55).filterNot(Set(5, 38, 41))
      .groupBy(i => s"u${i % 7}").map { case (a, is) => a -> is.map(_.toLong).sorted }
    runs.foreach { case (m, _, _) =>
      assert(sublogs(m) == want)
      assert(m.sublog("u6").query(Limit(3)).collect().map(_.getLong(0)).toSeq ==
        want("u6").take(3))
    }
  }

  test("an increment over the log's byte cut takes the job path") {
    val log = newLog(Seq("spark.graft.smallAppendCoalesceMaxBytes" -> "1"))
    val kv = KVIndex.open(spark, tmpDir("pp-big"))
    val jobs = jobsDuring(assert(SinkIndex.pump(log, kv, kvProc) == 40L))
    assert(jobs > 0, "a batch over the byte cut was read onto the driver")
    assert(kvState(kv) == model(40, Set(5, 38)))
  }

  test("a transform Spark cannot fold falls back to the job path and stays correct") {
    val log = newLog()
    val latest = (b: DataFrame) => b.groupBy(col("value.k").as("addr"))
      .agg(max(col("seq")).as("useq"), max_by(col("value.n"), col("seq")).as("n"))
      .select(col("addr"), col("n").cast("string").as("value"), col("useq"))
    val kvs = bothKv(log, latest)
    assert(kvs.forall(_._2 > 0), "an aggregate over the increment ran no job")
    kvs.foreach { case (kv, _, _) => assert(kvState(kv) == model(40, Set(5, 38))) }
  }

  test("KVIndex.set/delete and MultiLog.append run no Spark job") {
    val kv = KVIndex.open(spark, tmpDir("pp-set"))
    assert(jobsDuring(kv.set("a", "1")) == 0)
    assert(jobsDuring(kv.set("b", "2")) == 0)
    assert(jobsDuring(kv.delete("a")) == 0)
    assert(kv.get("a").isEmpty && kv.get("b").contains("2"))
    val m = MultiLog.open(spark, tmpDir("pp-append"))
    Seq(9L, 3L, 7L, 3L).foreach(s => assert(jobsDuring(m.append("x", s)) == 0))
    assert(m.sublog("x").query().collect().map(_.getLong(0)).toSeq == Seq(3L, 7L, 9L))
  }
}
