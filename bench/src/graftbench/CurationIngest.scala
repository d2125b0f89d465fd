package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupParams}
import graft.streaming.{IngestConfig, IngestDaemon}

/** `curation_ingest`: the IngestDaemon curation loop with the text
  * MinHash/LSH tier and the fingerprint (Hamming) tier. Each batch is
  * ~1k generated docs carrying planted near-dups, exact dups and
  * Hamming-1 fingerprints of the previous batch; the daemon must drop
  * exactly those. */
final class CurationIngest extends Workload {
  val BatchDocs = 1000
  // untimed seed batches: JIT and codegen warm-up of the daemon's plans
  val SeedBatches = 3

  // the DaemonProbe configuration of the two tiers
  val Config = IngestConfig(
    minQuality = 0.0, minTokens = 1, threshold = 0.35,
    params = DedupParams(numHashes = 8, bands = 4),
    fpCol = Some("fph"), fpMaxHamming = 2, fpBands = 4, fpBits = 64)

  /** Near-dup plants of batches `1 until batches` that share no LSH
    * band bucket with their target. MinHash banding is probabilistic,
    * so the daemon's contract is "drop a near-dup iff it shares a
    * bucket with a standing doc and its Jaccard passes the threshold"
    * (every plant's Jaccard does); these plants must be admitted. The
    * bands come from the engine's signature function, computed apart
    * from the daemon's incremental probe that the check is aimed at. */
  def lshMissed(ctx: Ctx, batches: Int): Set[Long] = {
    val p = Gen.plants(ctx.seed)
    val r = pmod(col("doc_id"), lit(50))
    val docs = (1 until batches).map { b =>
      Gen.docBatch(ctx.spark, ctx.seed, b, BatchDocs).where(r === p.near)
        .unionByName(Gen.docBatch(ctx.spark, ctx.seed, b - 1, BatchDocs)
          .where(r === p.near + p.nearOff))
    }.reduce(_ unionByName _)
    val c = Config.params
    val bands = Dedup.lshBandIndex(docs, "text", "doc_id", c.numHashes, c.bands,
      c.shingleWidth, c.portableHash)
    val plant = bands.where(pmod(col("doc_id"), lit(50)) === p.near).as("p")
    val hit = plant.join(bands.as("t"),
      col("p.band") === col("t.band") && col("p.bucket") === col("t.bucket") &&
        col("t.doc_id") === col("p.doc_id") - BatchDocs + p.nearOff)
      .select(col("p.doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val planted = (1 until batches).flatMap { b =>
      val lo = b.toLong * BatchDocs
      (lo until lo + BatchDocs).filter(id => java.lang.Math.floorMod(id, 50L) == p.near)
    }.toSet
    planted.diff(hit)
  }

  val setupRounds = 25

  final class State(val dir: String, val daemon: IngestDaemon, val batches: Int)

  private def input(ctx: Ctx, b: Int) = s"${ctx.work}/input/$b"

  // admitted docs of traced batches, for streaming.batch.admitted_frac
  private var admittedTraced = 0L

  private def timedBatches(ctx: Ctx): Int = math.max(2, ctx.seconds / 6)

  private def batches(ctx: Ctx): Int = SeedBatches + timedBatches(ctx)

  def prepare(ctx: Ctx): Unit =
    for (b <- 0 until batches(ctx))
      Gen.docBatch(ctx.spark, ctx.seed, b, BatchDocs).write.parquet(input(ctx, b))

  def setup(ctx: Ctx, round: Int): State = {
    val dir = s"${ctx.work}/curation$round"
    new State(dir, IngestDaemon.open(ctx.spark, s"$dir/daemon", Config), batches(ctx))
  }

  /** The seed batches run on the kept state, in [[run]]. */
  def warmup(ctx: Ctx, s: State): Unit = ()

  def discard(ctx: Ctx, s: State): Unit = Workload.deleteTree(s.dir)

  /** Process batch `b`, read back what it admitted, replay its id.
    * Returns the read time (ms). */
  private def batch(ctx: Ctx, s: State, b: Int, missed: Set[Long]): Double = {
    val id = s"b$b"
    val docs = ctx.spark.read.parquet(input(ctx, b))
    val before = ctx.calls.size
    ctx.call("batch", "streaming.batch", (_: Option[graft.dedup.IngestResult]) => BatchDocs.toLong)(
      s.daemon.processBatch(id, docs)).foreach {
      case None => ctx.verify(List(s"batch $id: processBatch returned None"))
      case Some(r) =>
        val admitted = ctx.call("admitted", null, (ids: Array[Row]) => ids.length.toLong)(
          Workload.plannedRead(ctx)(r.admitted.select("doc_id"))(_.collect())(_.length.toLong))
        admitted.foreach { ids =>
          val got = ids.map(_.getLong(0)).toSet
          val lo = b.toLong * BatchDocs
          val want = Gen.expectedAdmitted(ctx.seed, b, BatchDocs) ++
            missed.filter(id => id >= lo && id < lo + BatchDocs)
          ctx.verify(Check.equal(s"batch $id admitted count", got.size, want.size) ++
            Check.equal(s"batch $id wrongly dropped", want.diff(got).toSeq.sorted.take(5), Nil) ++
            Check.equal(s"batch $id wrongly admitted", got.diff(want).toSeq.sorted.take(5), Nil))
          if (ctx.tracer.on) admittedTraced += got.size
        }
    }
    ctx.call("replay", "streaming.batch", (_: Option[graft.dedup.IngestResult]) => 0L)(
      s.daemon.processBatch(id, docs))
      .foreach(r => ctx.verify(Check.equal(s"replayed batch $id", r.isEmpty, true)))
    ctx.calls.drop(before).filter(c => c.kind != "batch").map(_.ns).sum / 1e6
  }

  def run(ctx: Ctx, s: State): Outcome = {
    val missed = lshMissed(ctx, s.batches)
    ctx.recording = false
    try (0 until SeedBatches).foreach(b => batch(ctx, s, b, missed))
    finally ctx.recording = true
    val readSets = mutable.ArrayBuffer.empty[Double]
    val wall = ctx.timedWall {
      for (b <- SeedBatches until s.batches) ctx.step("batch") {
        readSets += batch(ctx, s, b, missed)
      }
    }
    ctx.checkOp("daemon consistency")(s.daemon.checkConsistency())

    val batches = ctx.of("batch")
    val tracedBatches = ctx.calls.count(c => c.traced && c.kind == "batch")
    Outcome(
      Workload.endToEnd(ctx, wall, batches, readSets.toSeq),
      Seq(
        "ops_per_s" -> M(ctx.calls.size / wall, "1/s", ctx.calls.size),
        "docs_per_s" -> M(Stats.rate(batches), "1/s", batches.size),
        "batch_s_p50" -> M(Stats.median(Stats.ms(batches)) / 1000, "s", batches.size),
        "lsh_missed_plants" -> M(missed.size, "count", missed.size),
        Workload.failedFrac(ctx)),
      Map("streaming.batch.admitted_frac" ->
        (if (tracedBatches == 0) 0.0 else admittedTraced.toDouble / (tracedBatches * BatchDocs))))
  }
}
