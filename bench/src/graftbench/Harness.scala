package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed client call into the engine. */
final case class Call(kind: String, ns: Long, rows: Long, traced: Boolean)

/** One step of client work (a feed cycle, a bulk ingest append or
  * query pass, a daemon batch); a traced run traces every other step
  * of each kind. `ns` is its time without the checks in it; `start`
  * and `end` are `System.nanoTime` stamps. */
final case class Step(kind: String, ns: Long, traced: Boolean, start: Long, end: Long)

/** A reported metric: value, unit and the sample count behind it. */
final case class M(value: Double, unit: String, n: Long)

/** The client side of a run: times every call, counts attempted and
  * failed ops, and keeps answer checks out of the timed intervals. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traceRun: Boolean, val work: String) {
  val tracer = new Tracer(spark)
  val calls = mutable.ArrayBuffer.empty[Call]
  val steps = mutable.ArrayBuffer.empty[Step]
  var attempted = 0L
  var failed = 0L
  /** Off during warm-up: calls still run and are checked, not timed. */
  var recording = true
  /** Rows returned by traced `sources.exec` spans. */
  var execRowsReturned = 0L
  private var untimedNs = 0L
  private val stepCount = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** `System.nanoTime` intervals of the checks run while tracing. */
  val untimedIv = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Host-load diagnostic for `# meta`, run after the timed phase: a
    * fixed plain-Spark job (write 100k rows to parquet, read them back,
    * aggregate) that calls no engine code. Its jobs carry the
    * [[Tracer.Reference]] owner. */
  def reference(): Double = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanProp, Tracer.Reference.toString)
    try {
      val t0 = System.nanoTime()
      spark.range(0, 100000, 1, sc.defaultParallelism)
        .selectExpr("id", "cast(hash(id) % 1000 as string) as s")
        .write.mode("overwrite").parquet(s"$work/reference")
      spark.read.parquet(s"$work/reference").selectExpr("sum(length(s))", "count(*)").collect()
      (System.nanoTime() - t0) / 1e6
    } finally sc.setLocalProperty(Tracer.SpanProp, null)
  }

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  /** Time one call into `layer` (no span of its own when null: the
    * call body opens its spans). An exception is a failed op (None). */
  def call[A](kind: String, layer: String, rows: A => Long = (_: A) => 0L)(f: => A): Option[A] = {
    tracer.nextOp()
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = if (layer == null) f else tracer.span(layer)(f)
      if (recording) calls += Call(kind, System.nanoTime() - t0, rows(r), tracer.on)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"FAIL $kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Check an answer (untimed); any mismatch fails the op once. */
  def verify(problems: => List[String]): Unit = untimed {
    val ps = problems
    if (ps.nonEmpty) {
      failed += 1
      ps.take(3).foreach(p => log(s"FAIL $p"))
    }
  }

  /** A check that is an op of its own (end-of-run consistency). */
  def checkOp(what: String)(problems: => List[String]): Unit = {
    attempted += 1
    try verify(problems)
    catch {
      case NonFatal(e) =>
        failed += 1
        log(s"FAIL $what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  def untimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      untimedNs += t1 - t0
      if (tracer.on) untimedIv += ((t0, t1))
    }
  }

  /** Run one step of client work; in a traced run every other step of
    * each kind is traced, from the first. The step's time excludes the
    * checks in it. */
  def step[A](kind: String)(f: => A): A = if (!recording) f else {
    val i = stepCount(kind)
    stepCount(kind) = i + 1
    tracer.on = traceRun && i % 2 == 0
    val u0 = untimedNs
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      steps += Step(kind, t1 - t0 - (untimedNs - u0), tracer.on, t0, t1)
      tracer.on = false
    }
  }

  /** Timed wall of a block: elapsed minus the checks run inside it. */
  def timedWall(f: => Any): Double = {
    val u0 = untimedNs
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0 - (untimedNs - u0)) / 1e9
  }

  def of(kind: String*): Seq[Call] = calls.filter(c => kind.contains(c.kind)).toSeq
}

object Stats {
  /** Nearest-rank percentile (`p` in [0,1]) of unsorted values. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def ms(cs: Seq[Call]): Seq[Double] = cs.map(_.ns / 1e6)

  /** Rows per second of the time spent inside `cs`. */
  def rate(cs: Seq[Call]): Double = {
    val s = cs.map(_.ns).sum / 1e9
    if (s <= 0) 0.0 else cs.map(_.rows).sum / s
  }

  def latency(name: String, cs: Seq[Call]): Seq[(String, M)] = Seq(
    s"${name}_ms_p50" -> M(median(ms(cs)), "ms", cs.size),
    s"${name}_ms_p90" -> M(pct(ms(cs), 0.9), "ms", cs.size))
}

/** Formats and prints results; the last stdout line is the JSON. */
object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def table(title: String, ms: Seq[(String, M)]): Unit = {
    println(s"# $title")
    ms.foreach { case (k, m) =>
      println(f"#   $k%-40s ${num(m.value)}%22s ${m.unit}%-6s n=${m.n}")
    }
  }

  def result(ctx: Ctx, metrics: Seq[(String, M)]): String = obj(Seq(
    "correct" -> (ctx.failed == 0).toString,
    "attempted" -> ctx.attempted.toString,
    "failed" -> ctx.failed.toString,
    "metrics" -> obj(metrics.map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))
    })))
}
