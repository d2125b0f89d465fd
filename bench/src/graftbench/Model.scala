package graftbench

import scala.collection.mutable

/** In-memory model of the feed log and its two derived views. Log
  * values are never stored: the value at seq `s` is
  * `Gen.event(seed, s)` (appends are dense and value `s` is generated
  * for seq `s`), so the model holds only the redaction set and the
  * view state. The views follow the engine's documented pump contract:
  * each pump consumes `(cursor, top]`, skips entries redacted at pump
  * time, and the KV view keeps the last write per user. */
final class LogModel(val seed: Long) {
  private var top = -1L
  private val nulled = mutable.Set.empty[Long]
  private var cursor = -1L
  private val kv = mutable.Map.empty[String, (Long, String)]
  private val sublogs = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]

  def seq: Long = top
  def isNulled(s: Long): Boolean = nulled.contains(s)
  def append(n: Long): Unit = top += n
  def nullAt(s: Long): Unit = nulled += s

  /** Expected row `(seq, value or None when redacted)`. */
  def row(s: Long): (Long, Option[Event]) =
    (s, if (nulled(s)) None else Some(Gen.event(seed, s)))

  /** Consume `(cursor, top]` into both views; returns rows consumed. */
  def pump(): Long = {
    val from = cursor
    var s = cursor + 1
    while (s <= top) {
      if (!nulled(s)) {
        val e = Gen.event(seed, s)
        kv(e.user_id.toString) = (s, e.props)
        sublogs.getOrElseUpdate(e.event_type, mutable.ArrayBuffer.empty) += s
      }
      s += 1
    }
    cursor = top
    top - from
  }

  def kvGet(addr: String): Option[String] = kv.get(addr).map(_._2)
  def kvState: Map[String, String] = kv.iterator.map { case (k, (_, v)) => k -> v }.toMap

  /** Parent seqs of sublog `addr` in rank order. */
  def sublog(addr: String): IndexedSeq[Long] =
    sublogs.getOrElse(addr, mutable.ArrayBuffer.empty[Long]).toIndexedSeq

  /** Per-addr `(count, sum of seqs, sum of squared seqs)`. */
  def sublogDigest: Map[String, (Long, Long, Long)] =
    sublogs.iterator.map { case (a, ss) =>
      a -> ((ss.size.toLong, ss.sum, ss.iterator.map(x => x * x).sum))
    }.toMap
}

/** Answer checks. Each returns the mismatches it found (empty = the
  * answer is right); the workloads count a non-empty result as one
  * failed op. Kept free of Spark so the self-test can feed them faults. */
object Check {
  type Row3 = (Long, Option[Event]) // (seq, value; None = redacted)

  def rows(what: String, got: Seq[Row3], want: Seq[Row3]): List[String] =
    if (got == want) Nil
    else {
      val g = got.map(_._1)
      val w = want.map(_._1)
      val missing = w.diff(g).take(5)
      val extra = g.diff(w).take(5)
      val wrong = got.zip(want).filter { case (a, b) => a._1 == b._1 && a != b }
        .map(_._1).take(5)
      List(s"$what: got ${got.size} rows, want ${want.size}; " +
        s"missing seqs $missing, unexpected $extra, wrong values $wrong" +
        (if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) ", order differs" else ""))
    }

  /** The tail must deliver every seq of `(from, to]` once, in order. */
  def tail(delivered: Seq[Long], from: Long, to: Long): List[String] = {
    val want = (from + 1) to to
    if (delivered == want) Nil
    else {
      val dups = delivered.groupBy(identity).collect { case (s, xs) if xs.size > 1 => s }
      val missing = want.diff(delivered).take(5)
      val outOfOrder = delivered.zip(delivered.drop(1)).count { case (a, b) => b <= a }
      List(s"tail: ${delivered.size} deliveries for ${want.size} seqs; " +
        s"duplicated ${dups.take(5).toList}, missing $missing, " +
        s"$outOfOrder out of order")
    }
  }

  def kv(got: Map[String, String], want: Map[String, String]): List[String] =
    if (got == want) Nil
    else {
      val stale = want.collect { case (k, v) if got.get(k).exists(_ != v) => k }
      List(s"kv view: ${got.size} keys, want ${want.size}; " +
        s"stale ${stale.take(5).toList}, missing ${want.keySet.diff(got.keySet).take(5).toList}, " +
        s"unexpected ${got.keySet.diff(want.keySet).take(5).toList}")
    }

  def digest(what: String, got: Map[String, (Long, Long, Long)],
      want: Map[String, (Long, Long, Long)]): List[String] =
    if (got == want) Nil else List(s"$what: digest $got, want $want")

  def equal[A](what: String, got: A, want: A): List[String] =
    if (got == want) Nil else List(s"$what: got $got, want $want")

  def close(what: String, got: Double, want: Double): List[String] =
    if (math.abs(got - want) <= 1e-6 * math.max(1.0, math.abs(want))) Nil
    else List(s"$what: got $got, want $want")
}
