package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local SparkSession per suite, temp dirs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` submits from this thread. Exact, not timed:
    * `body`'s jobs carry a fresh job group, and a sentinel job
    * submitted after it marks where they end — the listener bus
    * delivers job starts in submission order. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-end"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(`sentinel`) => ended.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body
      finally {
        sc.setJobGroup(sentinel, "sentinel")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.clearJobGroup()
      }
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job start never reached the listener")
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // JVM-exit ordering guard: stop any still-active streaming query
    // BEFORE SparkContext's own shutdown hook tears the executor pool
    // down. A query alive at exit (a leak, or an external timeout
    // SIGTERM-ing a long run) otherwise races the pool shutdown and
    // storms RejectedExecutionException / lost-task warnings — the
    // r20 driver verify's red tail.
    org.apache.spark.graftcompat.TestShutdown.beforeSparkStops { () =>
      s.streams.active.foreach(q =>
        try q.stop() catch { case _: Throwable => () })
    }
    s
  }
}
