package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One generated event: the value struct a log row carries. */
final case class Event(
    event_id: Long,
    ts_ns: Long,
    user_id: Long,
    event_type: String,
    amount: Double,
    props: String
)

/** Seeded input generator. Every input is a pure function of
  * `(seed, position)`, so the checker recomputes any expected answer
  * from the generator instead of trusting the engine, and the same
  * seed gives the same inputs byte for byte. Nothing here calls the
  * engine; the workloads hand the generated frames to it. */
object Gen {
  val Users: Int = 1500
  val EventTypes: Vector[String] =
    Vector("click", "view", "signup", "purchase", "error")
  private val TsBase = 1704067200000000000L // 2024-01-01T00:00:00Z

  /** splitmix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, salt: Long, i: Long): Long =
    mix(mix(seed * 31 + salt) ^ i)

  def event(seed: Long, id: Long): Event = {
    val h = hash(seed, 1, id)
    Event(
      event_id = id,
      ts_ns = TsBase + id * 1000000L + java.lang.Math.floorMod(h, 1000000L),
      user_id = java.lang.Math.floorMod(mix(h + 1), Users.toLong),
      event_type = EventTypes(java.lang.Math.floorMod(mix(h + 2), 5L).toInt),
      amount = java.lang.Math.floorMod(mix(h + 3), 100000L) / 100.0,
      props = s"""{"k": ${java.lang.Math.floorMod(mix(h + 4), 100L)}}"""
    )
  }

  /** Events `[lo, hi)` as a single-column `value` frame, built on the
    * executors from [[event]] in `parts` id-ordered partitions. */
  def events(spark: SparkSession, seed: Long, lo: Long, hi: Long,
      parts: Int): DataFrame = {
    import spark.implicits._
    val s = seed
    spark.range(lo, hi, 1, parts).as[Long].map(id => event(s, id))
      .select(struct(col("*")).as("value"))
  }

  /** Events `[lo, hi)` as a local (driver-side) relation. */
  def localEvents(spark: SparkSession, seed: Long, lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(event(seed, _)).toDF().select(struct(col("*")).as("value"))
  }

  // ---- curation documents -------------------------------------------

  /** Where the planted duplicates sit: residues of `doc_id mod 50`. A
    * doc at `near` carries the text of doc `id - batch + nearOff` plus a
    * one-token-clause suffix (jaccard ~0.9, only the LSH tier catches
    * it); one at `exact` carries the text of `id - batch + exactOff`
    * verbatim (the exact tier); one at `ham` carries a fingerprint one
    * bit from that of `id - batch + hamOff` with unique text (only the
    * Hamming tier). Every target residue is a raw doc, never a plant. */
  final case class Plants(near: Int, exact: Int, ham: Int,
      nearOff: Int, exactOff: Int, hamOff: Int) {
    def isPlant(id: Long): Boolean = {
      val r = java.lang.Math.floorMod(id, 50L).toInt
      r == near || r == exact || r == ham
    }
  }

  def plants(seed: Long): Plants = {
    val base = java.lang.Math.floorMod(hash(seed, 7, 0), 40L).toInt
    // residues base, base+3, base+6 (all < 50); targets +1/+2/+4 land on
    // base+1, base+5, base+10 — none of them a plant residue
    Plants(base, base + 3, base + 6, 1, 2, 4)
  }

  /** Hash-derived 40-token body: every 4th token an English marker word
    * (the language gate admits the doc), the rest hash tokens, so two
    * different seeds share no shingles. */
  private def body(seed: Long, docSeed: Column): Column = concat_ws(" ",
    transform(sequence(lit(0), lit(39)), i =>
      when(pmod(i, lit(4)) === 0,
        element_at(array(lit("the"), lit("and"), lit("of"), lit("to")),
          (pmod(i, lit(16)) / 4 + 1).cast("int")))
        .otherwise(pmod(xxhash64(lit(seed), docSeed, i), lit(99991))
          .cast("string"))))

  private def fingerprint(seed: Long, docSeed: Column): Column =
    xxhash64(lit(seed), docSeed, lit("fp"))

  /** Batch `b` of `size` docs `(doc_id, text, fph)`; ids are
    * `[b*size, (b+1)*size)`, `size` a multiple of 50. Batch 0 has no
    * plants; later batches plant against the previous batch. */
  def docBatch(spark: SparkSession, seed: Long, b: Int, size: Int): DataFrame = {
    require(size % 50 == 0, "batch size must be a multiple of 50")
    val p = plants(seed)
    val lo = b.toLong * size
    val id = col("id")
    val r = pmod(id, lit(50))
    val planted = lit(b > 0)
    spark.range(lo, lo + size, 1, 1).select(
      id.as("doc_id"),
      when(planted && r === p.near,
        concat(body(seed, id - size + p.nearOff), lit(" trailing variant")))
        .when(planted && r === p.exact, body(seed, id - size + p.exactOff))
        .otherwise(body(seed, id)).as("text"),
      when(planted && r === p.ham,
        fingerprint(seed, id - size + p.hamOff).bitwiseXOR(lit(1L)))
        .otherwise(fingerprint(seed, id)).as("fph"))
  }

  /** Doc ids of batch `b` the daemon must admit: all but the plants. */
  def expectedAdmitted(seed: Long, b: Int, size: Int): Set[Long] = {
    val p = plants(seed)
    val lo = b.toLong * size
    (lo until lo + size).filter(id => b == 0 || !p.isPlant(id)).toSet
  }
}
