package graftbench

/** The checker's own test: every check must pass on a right answer and
  * fail on each injected fault, and a seed must give the same op
  * sequence byte for byte. Runs without Spark; exits 1 on any miss.
  *
  *   python3 bench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  /** Every op a run of `seed` issues, as text. */
  def opSequence(seed: Long): String = {
    val feed = FeedPlan(seed, 0, 100000L, 20)
    val bulk = BulkScan.bounds(seed, 0, 1000000L, 2)
    val plants = Gen.plants(seed)
    val docs = (0 until 4).map(b => Gen.expectedAdmitted(seed, b, 1000).toSeq.sorted)
    val events = (0L until 64L).map(Gen.event(seed, _))
    Seq(feed.describe, bulk.toString, plants.toString, docs.toString, events.toString)
      .mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val m = new LogModel(seed = 7)
    m.append(1000)
    m.nullAt(10)
    m.pump()
    m.append(50)
    m.nullAt(1020) // redacted before its pump: the views must skip it
    m.pump()

    // a range answer with a dropped row
    val want = (0L until 30L).map(m.row)
    expect("rows: right answer passes", Check.rows("range", want, want).isEmpty)
    expect("rows: dropped row fails", Check.rows("range", want.patch(12, Nil, 1), want).nonEmpty)
    expect("rows: redaction ignored fails",
      Check.rows("range", want.updated(10, (10L, Some(Gen.event(7, 10)))), want).nonEmpty)
    expect("rows: reordered fails", Check.rows("range", want.reverse, want).nonEmpty)

    // the tail: once each, in order
    val seqs = (1001L to 1050L).toList
    expect("tail: exact delivery passes", Check.tail(seqs, 1000, 1050).isEmpty)
    expect("tail: duplicated delivery fails",
      Check.tail(seqs.patch(5, Seq(seqs(4)), 0), 1000, 1050).nonEmpty)
    expect("tail: missing delivery fails", Check.tail(seqs.init, 1000, 1050).nonEmpty)
    expect("tail: swapped delivery fails",
      Check.tail(seqs.updated(3, seqs(4)).updated(4, seqs(3)), 1000, 1050).nonEmpty)

    // the KV view: last write per user, redacted entries skipped
    val kv = m.kvState
    val writes = (0L until 1050L).filterNot(m.isNulled).map(Gen.event(7, _))
      .groupBy(_.user_id.toString)
    val (user, history) = writes.find { case (_, es) => es.map(_.props).distinct.size > 1 }.get
    expect("kv: model keeps the latest write", kv(user) == history.last.props)
    expect("kv: right view passes", Check.kv(kv, kv).isEmpty)
    val stale = history.map(_.props).filter(_ != kv(user)).last
    expect("kv: stale value fails", Check.kv(kv.updated(user, stale), kv).nonEmpty)
    expect("kv: missing key fails", Check.kv(kv - user, kv).nonEmpty)
    expect("sublog: redacted seq skipped",
      !m.sublog(Gen.event(7, 1020).event_type).contains(1020L) &&
        !m.sublog(Gen.event(7, 10).event_type).contains(10L))
    val d = m.sublogDigest
    expect("sublog digest: off-by-one fails", Check.digest("mlog",
      d.updated("click", d("click").copy(_1 = d("click")._1 - 1)), d).nonEmpty)

    // curation: exactly the plants are dropped, none in batch 0
    val p = Gen.plants(3)
    val b1 = Gen.expectedAdmitted(3, 1, 1000)
    expect("plants: batch 0 admits all", Gen.expectedAdmitted(3, 0, 1000).size == 1000)
    expect("plants: 3 of every 50 dropped", b1.size == 1000 - 60)
    expect("plants: targets are raw docs", Seq(p.nearOff + p.near, p.exactOff + p.exact,
      p.hamOff + p.ham).forall(r => !p.isPlant(r)))

    // determinism of the op sequence
    expect("same seed gives a byte-identical op sequence",
      java.util.Arrays.equals(opSequence(11).getBytes("UTF-8"), opSequence(11).getBytes("UTF-8")))
    expect("another seed gives another op sequence", opSequence(11) != opSequence(12))

    // BENCHMARK.json lists exactly the metrics a run emits
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json"))
    def names(key: String) = {
      val it = spec.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toList
    }
    expect("BENCHMARK.json per_layer matches the traced run's metrics",
      names("per_layer") == Layers.All.toList)
    expect("BENCHMARK.json end_to_end matches an untraced run's metrics",
      names("end_to_end") == Workload.EndToEnd.toList)

    println(if (failures == 0) "== selftest OK" else s"== selftest FAILED ($failures)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
