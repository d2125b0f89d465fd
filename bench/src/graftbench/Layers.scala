package graftbench

/** The per-layer metrics of a traced run. Layers are the engine's
  * modules; every span layer reports the same seven counters, and a
  * few layers add their own. Every name is emitted on every workload
  * (0 where the workload never calls that layer). */
object Layers {
  val SpanLayers: Seq[String] = Seq(
    "storage.append", "storage.get", "storage.nullat",
    "query.build", "sources.plan", "sources.exec",
    "multilog.sublog_read", "indexes.kv_get",
    "indexes.pump_kv", "indexes.pump_mlog", "streaming.batch")

  val Common: Seq[(String, String)] = Seq(
    "calls" -> "count", "busy_s" -> "s", "self_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_s" -> "s", "driver_only_s" -> "s")

  val Extras: Seq[(String, String)] = Seq(
    "storage.append.files_written" -> "count",
    "storage.append.bytes_written" -> "bytes",
    "storage.live_files" -> "count",
    "storage.write_amp" -> "ratio",
    "storage.nullat.bytes_written" -> "bytes",
    "sources.exec.rows_read" -> "count",
    "sources.exec.bytes_read" -> "bytes",
    "sources.exec.rows_read_per_row_returned" -> "ratio",
    "multilog.sublog_read.ms_p50" -> "ms",
    "indexes.kv_get.ms_p50" -> "ms",
    "indexes.pump_kv.rows" -> "count",
    "indexes.pump_kv.shuffle_bytes" -> "bytes",
    "indexes.pump_mlog.rows" -> "count",
    "indexes.pump_mlog.shuffle_bytes" -> "bytes",
    "live.triggers" -> "count",
    "live.nonempty_trigger_frac" -> "ratio",
    "live.trigger_ms_p50" -> "ms",
    "live.latest_offset_ms_p50" -> "ms",
    "live.backlog_max_seqs" -> "count",
    "live.rows_delivered" -> "count",
    "live.jobs" -> "count",
    "live.tasks" -> "count",
    "live.task_s" -> "s",
    "streaming.batch.shuffle_write_bytes" -> "bytes",
    "streaming.batch.output_bytes" -> "bytes",
    "streaming.batch.admitted_frac" -> "ratio",
    "spark.task_wait_s" -> "s",
    "spark.core_busy_frac" -> "ratio",
    "spark.gc_s" -> "s",
    "spark.unattributed_jobs" -> "count",
    "bench.trace_overhead_frac" -> "ratio",
    "bench.traced_wall_s" -> "s",
    "bench.layer_self_s" -> "s",
    "bench.client_gap_s" -> "s")

  /** Every per-layer metric name with its unit, in report order. */
  val All: Seq[(String, String)] =
    SpanLayers.flatMap(l => Common.map { case (m, u) => s"$l.$m" -> u }) ++ Extras

  /** Length of the union of `[a, b)` intervals, clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Per-layer metrics from the spans, the attributed jobs, the
    * workload's extras and the phase totals. */
  def compute(ctx: Ctx, extras: Map[String, Double], phaseWallS: Double,
      gcS: Double, cores: Int): Seq[(String, M)] = {
    val tr = ctx.tracer
    tr.drain()
    val spans = tr.spans.toSeq
    val byOwner = tr.jobsByOwner
    val childS = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.durS).sum }
    def selfS(s: Span) = s.durS - childS.getOrElse(s.id, 0.0)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, M]
    for (l <- SpanLayers) {
      val ss = spans.filter(_.name == l)
      val js = ss.flatMap(s => byOwner.getOrElse(s.id, Nil))
      val driverOnly = ss.map { s =>
        val own = byOwner.getOrElse(s.id, Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble))
        math.max(0.0, selfS(s) - covered(own, s.startMs, s.endMs) / 1000)
      }.sum
      val v = Map(
        "calls" -> ss.size.toDouble,
        "busy_s" -> ss.map(_.durS).sum,
        "self_s" -> ss.map(selfS).sum,
        "jobs" -> js.size.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "task_s" -> js.map(_.taskMs).sum / 1000.0,
        "driver_only_s" -> driverOnly)
      Common.foreach { case (m, u) => out(s"$l.$m") = M(v(m), u, ss.size) }
    }
    def jobsOf(layer: String) =
      spans.filter(_.name == layer).flatMap(s => byOwner.getOrElse(s.id, Nil))
    def spanMs(layer: String) = spans.filter(_.name == layer).map(_.durS * 1000)
    val exec = jobsOf("sources.exec")
    val live = byOwner.getOrElse(Tracer.Live, Nil)
    val prog = tr.progress.synchronized(tr.progress.toSeq)
    val tracedSteps = ctx.steps.filter(_.traced)
    val roots = spans.filter(_.parent < 0)
    // jobs submitted inside a layer call that no span claimed
    val unattributed = byOwner.getOrElse(Tracer.Unattributed, Nil).count(j =>
      roots.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
    val all = byOwner.filter(_._1 != Tracer.Reference).values.flatten.toSeq
    val tracedWall = tracedSteps.map(_.ns).sum / 1e9
    val layerSelf = spans.map(selfS).sum
    // client time of the traced steps: outside every root span and
    // every check, measured apart from the spans' self times
    val clientGap = tracedSteps.map { st =>
      val iv = (roots.map(r => (r.start, r.end)) ++ ctx.untimedIv)
        .filter { case (a, b) => b > st.start && a < st.end }
        .map { case (a, b) => (a.toDouble, b.toDouble) }
      (st.end - st.start - covered(iv, st.start.toDouble, st.end.toDouble)) / 1e9
    }.sum
    // self times and client gaps must add up to the traced wall; a
    // negative self time or a mismatch means overlapping, double-counted
    // or stray spans
    ctx.checkOp("trace accounting") {
      val tol = 0.001 + 1e-3 * tracedWall
      spans.filter(selfS(_) < -tol).take(3).map(sp =>
        s"span ${sp.id} ${sp.name}: negative self time ${selfS(sp)} s").toList ++
        (if (math.abs(layerSelf + clientGap - tracedWall) <= tol) Nil
         else List(f"layer self $layerSelf%.4f s + client gap $clientGap%.4f s " +
           f"!= traced wall $tracedWall%.4f s"))
    }
    val rowsRead = exec.map(_.recordsRead).sum.toDouble
    val computed = Map(
      "sources.exec.rows_read" -> rowsRead,
      "sources.exec.bytes_read" -> exec.map(_.bytesRead).sum.toDouble,
      "sources.exec.rows_read_per_row_returned" ->
        (if (ctx.execRowsReturned > 0) rowsRead / ctx.execRowsReturned else 0.0),
      "multilog.sublog_read.ms_p50" -> Stats.median(spanMs("multilog.sublog_read")),
      "indexes.kv_get.ms_p50" -> Stats.median(spanMs("indexes.kv_get")),
      "indexes.pump_kv.rows" -> ctx.calls.filter(c => c.traced && c.kind == "pump_kv").map(_.rows).sum.toDouble,
      "indexes.pump_kv.shuffle_bytes" -> jobsOf("indexes.pump_kv").map(_.shuffleWrite).sum.toDouble,
      "indexes.pump_mlog.rows" -> ctx.calls.filter(c => c.traced && c.kind == "pump_mlog").map(_.rows).sum.toDouble,
      "indexes.pump_mlog.shuffle_bytes" -> jobsOf("indexes.pump_mlog").map(_.shuffleWrite).sum.toDouble,
      "live.triggers" -> prog.size.toDouble,
      "live.nonempty_trigger_frac" ->
        (if (prog.isEmpty) 0.0 else prog.count(_._1 > 0).toDouble / prog.size),
      "live.trigger_ms_p50" -> Stats.median(prog.map(_._2.toDouble)),
      "live.latest_offset_ms_p50" -> Stats.median(prog.map(_._3.toDouble)),
      "live.backlog_max_seqs" -> (if (prog.isEmpty) 0.0 else prog.map(_._1).max.toDouble),
      "live.rows_delivered" -> prog.map(_._1).sum.toDouble,
      "live.jobs" -> live.size.toDouble,
      "live.tasks" -> live.map(_.tasks).sum.toDouble,
      "live.task_s" -> live.map(_.taskMs).sum / 1000.0,
      "streaming.batch.shuffle_write_bytes" -> jobsOf("streaming.batch").map(_.shuffleWrite).sum.toDouble,
      "streaming.batch.output_bytes" -> jobsOf("streaming.batch").map(_.bytesWritten).sum.toDouble,
      "spark.task_wait_s" -> all.map(_.waitMs).sum / 1000.0,
      "spark.core_busy_frac" ->
        (if (phaseWallS > 0) all.map(_.taskMs).sum / 1000.0 / (phaseWallS * cores) else 0.0),
      "spark.gc_s" -> gcS,
      "spark.unattributed_jobs" -> unattributed.toDouble,
      "bench.traced_wall_s" -> tracedWall,
      "bench.layer_self_s" -> layerSelf,
      "bench.client_gap_s" -> clientGap,
      "bench.trace_overhead_frac" -> overhead(ctx.calls.toSeq))
    Extras.foreach { case (m, u) =>
      out(m) = M(extras.getOrElse(m, computed.getOrElse(m, 0.0)), u, 0)
    }
    out.toSeq
  }

  /** Traced over untraced call time, minus one: per call kind the
    * ratio of medians, weighted by the kind's traced time. */
  def overhead(calls: Seq[Call]): Double = {
    val kinds = calls.groupBy(_.kind).values.flatMap { cs =>
      val t = cs.filter(_.traced).map(_.ns.toDouble)
      val u = cs.filterNot(_.traced).map(_.ns.toDouble)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t) / Stats.median(u), t.sum))
    }.toSeq
    val w = kinds.map(_._2).sum
    if (w <= 0) 0.0 else kinds.map { case (r, tw) => r * tw }.sum / w - 1
  }
}
