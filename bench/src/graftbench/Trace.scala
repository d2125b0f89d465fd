package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced layer call. Times are `System.nanoTime`; `startMs` is
  * the same instant on the epoch-millisecond clock Spark stamps its
  * job events with. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
    start: Long, startMs: Double) {
  var end: Long = start
  def durS: Double = (end - start) / 1e9
  def endMs: Double = startMs + (end - start) / 1e6
}

/** Spark counters of one job, attributed to the span whose client
  * thread submitted it, or to the live tail or the reference job. */
final class JobRec(val owner: Int, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L
  var taskMs = 0L
  var waitMs = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleWrite = 0L
}

/** Records spans around the benchmark's calls into each layer and,
  * through a [[SparkListener]] it registers, the jobs and tasks each
  * span caused. Jobs are matched to spans by a local property set on
  * the client thread; jobs of the live-tail query by its query id.
  * Spans are kept in memory and written out by [[write]] at the end.
  *
  * `on` is toggled per step of client work: a traced run traces every
  * other step so the untraced ones give the tracing overhead. With
  * `on` false a span is the bare call. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.Map.empty[Int, JobRec] // guarded by `listener`
  val progress = mutable.ArrayBuffer.empty[(Long, Long, Long)] // rows, trigger ms, latestOffset ms
  @volatile var liveQueryId: String = ""
  var on = false
  private var stack: List[Span] = Nil
  private var op = 0L
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Start a new client op; spans until the next call share its id. */
  def nextOp(): Unit = op += 1

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val parent = stack.headOption
      val t = System.nanoTime()
      val s = Span(spans.size, parent.fold(-1)(_.id), name, op, t,
        baseMs + (t - baseNs) / 1e6)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  val listener: SparkListener = new SparkListener {
    private val stageJob = mutable.Map.empty[Int, JobRec]
    private val stageSubmit = mutable.Map.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val owner =
        if (prop("sql.streaming.queryId").contains(liveQueryId) &&
          liveQueryId.nonEmpty) Live
        else prop(SpanProp).map(_.toInt).getOrElse(Unattributed)
      val j = new JobRec(owner, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageSubmit(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        stageSubmit.get(e.stageId).foreach(s =>
          j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.recordsRead += m.inputMetrics.recordsRead
          j.bytesRead += m.inputMetrics.bytesRead
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.id.toString == liveQueryId) progress.synchronized {
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress += ((p.numInputRows, ms("triggerExecution"), ms("latestOffset")))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Jobs per span id (live and unattributed jobs under their codes). */
  def jobsByOwner: Map[Int, Seq[JobRec]] = listener.synchronized {
    jobs.values.toSeq.groupBy(_.owner)
  }

  /** One line per span: id, parent, op, name, start and end (ns from the
    * first span), and the jobs it submitted. */
  def write(path: String): Unit = {
    val byOwner = jobsByOwner
    val t0 = spans.headOption.fold(0L)(_.start)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("id\tparent\top\tname\tstart_ns\tend_ns\tjobs\ttasks\ttask_ms")
      spans.foreach { s =>
        val js = byOwner.getOrElse(s.id, Nil)
        w.println(s"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${s.start - t0}\t" +
          s"${s.end - t0}\t${js.size}\t${js.map(_.tasks).sum}\t${js.map(_.taskMs).sum}")
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  val Live: Int = -2
  val Unattributed: Int = -1
  val Reference: Int = -3
}
