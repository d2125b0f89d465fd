package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (see bench/README.md):
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> [--spans <file>]
  *
  * Writes the inputs, builds the start state several times (`setup_s`
  * is the median), warms up, runs the timed closed loop, checks every
  * answer, and prints the report; the last stdout line is the result
  * JSON. With `--trace 1` the JSON carries the per-layer metrics and
  * the spans go to `--spans`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = sys.props.getOrElse("graftbench.cores",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        run(workload, Workload(workload), new Ctx(spark, seed, seconds, traced, s"$work/data"),
          cores, opts.get("spans"))
        0
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[graftbench] run aborted: $e")
          e.printStackTrace()
          1
      } finally {
        spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
        spark.stop()
      }
    sys.exit(code)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def run(name: String, w: Workload, ctx: Ctx, cores: Int,
      spansFile: Option[String]): Unit = {
    val t0 = System.nanoTime()
    w.prepare(ctx)
    ctx.log(f"inputs written (untimed): ${(System.nanoTime() - t0) / 1e9}%.2f s")
    var kept: Option[w.State] = None
    val setupS = (1 to w.setupRounds).map { round =>
      val t0 = System.nanoTime()
      val s = w.setup(ctx, round)
      val dt = (System.nanoTime() - t0) / 1e9
      ctx.log(f"setup round $round: $dt%.2f s")
      if (round == 1) {
        val t1 = System.nanoTime()
        w.warmup(ctx, s)
        ctx.log(f"warm-up: ${(System.nanoTime() - t1) / 1e9}%.2f s")
      }
      if (round < w.setupRounds) w.discard(ctx, s) else kept = Some(s)
      dt
    }
    val s = kept.get
    // start the timed phase from a collected heap, not the set-ups' garbage
    System.gc()
    if (ctx.traceRun) ctx.tracer.install()
    val gc0 = gcSeconds
    val t1 = System.nanoTime()
    val out = w.run(ctx, s)
    val phaseS = (System.nanoTime() - t1) / 1e9
    ctx.log(f"run (timed loop, checks, end of run): $phaseS%.2f s")
    val gcS = gcSeconds - gc0
    // the workload has stopped its live tail: nothing of the engine runs
    val refMs = Stats.median((1 to 3).map(_ => ctx.reference()))
    val endToEnd = ("setup_s" -> M(Stats.median(setupS), "s", setupS.size)) +: out.endToEnd
    println("# meta " + Report.obj(Seq(
      "workload" -> Report.str(name),
      "seed" -> ctx.seed.toString,
      "seconds" -> ctx.seconds.toString,
      "trace" -> (if (ctx.traceRun) "1" else "0"),
      "git_sha" -> Report.str(sys.props.getOrElse("graftbench.gitSha", "none")),
      "src_digest" -> Report.str(sys.props.getOrElse("graftbench.srcDigest", "none")),
      "nproc" -> cores.toString,
      "heap_gb" -> sys.props.getOrElse("graftbench.heapGb", "0"),
      "spark" -> Report.str(ctx.spark.version),
      "setup_rounds_s" -> setupS.map(Report.num).mkString("[", ", ", "]"),
      "reference_ms" -> Report.num(refMs))))
    Report.table("end-to-end (gated)", endToEnd)
    Report.table("named per-call metrics", out.named)
    val metrics =
      if (!ctx.traceRun) endToEnd
      else {
        val layers = Layers.compute(ctx, out.layerExtras, phaseS, gcS, cores)
        ctx.tracer.uninstall()
        spansFile.foreach(ctx.tracer.write)
        Report.table("per-layer (traced run)", layers)
        layers
      }
    val expected = if (ctx.traceRun) Layers.All else Workload.EndToEnd
    require(metrics.map { case (k, m) => k -> m.unit } == expected,
      "emitted metrics differ from the declared list")
    println(Report.result(ctx, metrics))
  }
}
