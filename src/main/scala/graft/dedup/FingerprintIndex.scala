package graft.dedup

import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage.{FileIO, TableStore}

/** What one [[FingerprintIndex.ingest]] produced — frames pinned to
  * the pre-batch snapshot (the [[IngestResult]] contract). */
final case class FingerprintIngestResult(
    pairs: DataFrame,
    admitted: DataFrame,
    capped: DataFrame,
    version: Long,
    replayed: Boolean
)

/** The standing FINGERPRINT near-dup state as a managed artifact —
  * the Hamming tier (SimHash text fingerprints, pHash media) joining
  * the family of [[DedupIndex]] (text LSH), [[VecDedupIndex]]
  * (embeddings) and [[SemanticIndex]] (SemDeDup): every fingerprint
  * ever seen, PRE-BANDED, in one [[TableStore]] with a per-batch
  * journal, so "probe the batch, pair, apply the corpus-wins
  * survivor rule, advance" is ONE versioned commit. This is the
  * resumable form a steady-state media-dedup ingest needs — without
  * it, pHash dedup re-pairs the whole corpus every day.
  *
  * `(bands, bits)` are pinned at creation and refused on mismatch
  * (band keys under different geometry are disjoint namespaces — a
  * wrong-geometry probe silently misses every prior near-dup).
  * `maxHamming` stays policy-per-ingest, constrained by the
  * pigeonhole bound against the PINNED bands.
  *
  * Indexed population: every batch fingerprint, admitted or not (the
  * losers-are-indexed recall argument of the siblings). Crash
  * contract and id discipline: identical — journal rides the commit,
  * replays recompute against the pre-batch snapshot and append
  * nothing, batch ids must exceed indexed ids.
  *
  * Plan shape at 100 TB: the batch is banded narrowly, its distinct
  * band keys broadcast (count-gated) into the standing store; only
  * probed buckets' rows move, the combined population is capped, the
  * verify is one xor/bit_count per candidate (no fetch stage at
  * all), and the commit appends batch-sized parquet. [[compact]]
  * sorts by (band, bkey) so probes prune row groups. */
final class FingerprintIndex private (
    val spark: SparkSession,
    val dir: String,
    store: TableStore,
    val bands: Int,
    val bits: Int
) {

  def version: Long = store.version

  /** Every fingerprint ever seen, pre-banded:
    * `(id, band, bkey, h)` — the probe side. */
  def bandRows: DataFrame = bandsAt(None)

  /** The curated corpus: admitted fingerprints, one row per doc. */
  def corpus: DataFrame =
    stateAt(None)
      .where(col("kind") === "fp" && col("admitted") && col("band") === 0)
      .select(col("id"), col("h"))

  /** The commit version that applied `batchId`, if any. */
  def appliedVersion(batchId: String): Option[Long] =
    store.readVersioned
      .where(col("kind") === "batch" && col("batch_id") === batchId)
      .select(col("_ver"))
      .collect()
      .headOption
      .map(_.getLong(0))

  /** Bootstrap: index `docs` without deduping them. Idempotent by
    * `batchId`; an overlapping re-seed appends no duplicate rows. */
  def seed(
      batchId: String,
      docs: DataFrame,
      hashCol: String,
      idCol: String
  ): Long = synchronized {
    appliedVersion(batchId).getOrElse {
      commit(
        Dedup.hammingBandIndex(docs, hashCol, idCol, bands, bits)
          .join(bandsAt(None).select("id").distinct(),
            Seq("id"), "left_anti")
          .withColumn("admitted", lit(true)), // bootstrap = curated
        batchId)
    }
  }

  /** Transactional ingest: batch-touching pairs against the
    * pre-batch snapshot ([[Dedup.incrementalHammingPairsDiag]]), the
    * corpus-wins survivor rule ([[Dedup.incrementalDropIds]]), then
    * the batch's band rows + journal as one commit.
    *
    * Precondition: `bands > maxHamming` against the PINNED bands (the
    * pigeonhole bound: a pair within `maxHamming` bits then agrees on
    * at least one band). A call that violates it, or passes a negative
    * `maxHamming`, throws `IllegalArgumentException`; to dedup at a
    * wider distance, open the index with more `bands`. */
  def ingest(
      batchId: String,
      docs: DataFrame,
      hashCol: String,
      idCol: String,
      maxHamming: Int,
      maxBucket: Long = 100000L,
      maxIter: Int = 50
  ): FingerprintIngestResult = synchronized {
    checkMaxHamming(maxHamming)
    val applied = appliedVersion(batchId)
    val pre = applied.map(_ - 1)
    // band the batch ONCE: the probe, the cap union AND the commit
    // (whose range-partitioner sampling evaluates its child twice)
    // all reuse the same checkpointed frame — the old shape re-ran
    // the banding three times per ingest
    val banded = Dedup.hammingBandIndex(
      docs.select(col(idCol).as("id"), col(hashCol).as("h")),
      "h", "id", bands, bits)
      .localCheckpoint(true)
    val (pairs, capped) = Dedup.incrementalHammingFromBands(
      banded, bandsAt(pre), maxHamming, maxBucket)
    val drops = Dedup.incrementalDropIds(
      pairs.select("id_a", "id_b"),
      docs.select(col(idCol).cast("long").as(idCol)), idCol, maxIter)
      // loser set: pair-bound and consumed twice (admitted anti-join
      // + the commit's admitted-flag join) — materialize once
      .localCheckpoint(true)
    val admitted = docs
      .join(drops, docs(idCol).cast("long") === drops("_dup_id"),
        "left_anti")
    val ver = applied.getOrElse {
      commit(
        banded
          .join(drops.select(col("_dup_id")),
            col("id") === col("_dup_id"), "left")
          .select(col("id"), col("band"), col("bkey"), col("h"),
            col("_dup_id").isNull.as("admitted")),
        batchId)
    }
    FingerprintIngestResult(pairs, admitted, capped, ver,
      applied.isDefined)
  }

  private def commit(rows: DataFrame, batchId: String): Long = {
    val nul = (t: String) => lit(null).cast(t)
    val v = rows.select(
      lit("fp").as("kind"), col("id"), col("band"), col("bkey"),
      col("h"), col("admitted"), nul("string").as("batch_id"))
    val j = spark.range(1).select(
      lit("batch").as("kind"), nul("long").as("id"), nul("int").as("band"),
      nul("long").as("bkey"), nul("long").as("h"),
      nul("boolean").as("admitted"), lit(batchId).as("batch_id"))
    // Fresh segments land band-tiled and (kind, band, bkey)-sorted,
    // not as shuffle.partitions unsorted shards: each commit writes a
    // few tiled files whose row groups carry tight (kind, band, bkey)
    // stats — so the probe's standing-side scan and the journal's
    // pushed kind="batch" lookup prune BETWEEN compacts, not only
    // after one (the Ann.writeBucketedIndex discipline).
    //
    // DETERMINISTIC routing, not repartitionByRange: the range
    // partitioner's boundary sampler ran 2 extra jobs per ingest and
    // re-evaluated this whole child (5 jobs / 224 ms task time vs
    // 3 jobs / 189 ms; OPTIMIZATION_r21.md, fingerprint_ingest).
    // Bands are a tiny, KNOWN domain, so boundaries need no sampling
    // — band b routes to partition floor(b·n/bands) via a literal
    // that Spark's hash partitioning sends to exactly that partition
    // index ([[FingerprintIndex.routing]]).
    // Partition order == band order, so staged-file name order (and a
    // small commit's coalesce/concat fold) keeps every file's
    // (kind, band, bkey) run monotone — FingerprintIndexSpec pins the
    // tiling, so a Spark hash change fails loudly, never silently.
    // The journal row (null band) routes to partition 0 and sorts
    // first (kind "batch" < "fp"), keeping journal lookups one row
    // group deep. The shuffle stays batch-sized.
    val n = FingerprintIndex.SegmentsPerCommit
    val route = FingerprintIndex.routing(n)
    val tgt = (col("band") * lit(n) / lit(bands)).cast("int")
    store.append(
      v.unionByName(j)
        .withColumn("_pt",
          when(col("band").isNull, lit(route(0)))
            .otherwise(element_at(typedLit(route.toSeq),
              least(lit(n - 1), tgt) + 1)))
        .repartition(n, col("_pt"))
        .sortWithinPartitions("kind", "band", "bkey", "id")
        .drop("_pt"))
  }

  /** Checkpointed streaming leg — the family's [[VecDedupIndex.start]]
    * shape: one [[ingest]] per micro-batch, kill/resume ≡ the
    * uninterrupted rolling run. Same precondition as [[ingest]]:
    * `bands > maxHamming`, checked here before the query starts — a
    * violating call throws `IllegalArgumentException`; raise `bands`. */
  def start(
      docs: DataFrame,
      hashCol: String,
      idCol: String,
      checkpointDir: String,
      maxHamming: Int,
      maxBucket: Long = 100000L,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    checkMaxHamming(maxHamming)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val batchId = s"stream-$id"
        val applied = appliedVersion(batchId)
        if (applied.isDefined || b.isEmpty) ()
        else {
          ingest(batchId, b, hashCol, idCol, maxHamming, maxBucket); ()
        }
      }
      .start()
  }

  // the direct hammingBandIndex + incrementalHammingFromBands path
  // bypasses incrementalHammingPairsDiag's guards — re-assert them
  // against the PINNED bands, or an ingest with maxHamming >= bands
  // silently loses near-dup recall (pairs spreading their differing
  // bits one per band share no band) instead of failing fast
  private def checkMaxHamming(maxHamming: Int): Unit = {
    require(maxHamming >= 0, s"maxHamming must be >= 0 (got $maxHamming)")
    require(bands > maxHamming,
      s"pigeonhole recall needs bands > maxHamming " +
        s"(pinned bands=$bands <= $maxHamming)")
  }

  /** Offline maintenance — the [[DedupIndex.compact]] contract;
    * (band, bkey) sort so probes prune row groups. */
  def compact(targetPartitions: Int = 8): Unit = synchronized {
    store.rewrite(
      _.repartitionByRange(targetPartitions, col("kind"), col("band"),
          col("bkey"))
        .sortWithinPartitions("kind", "band", "bkey", "id"))
  }

  /** MINOR maintenance — the [[DedupIndex.compactMinor]] contract:
    * version-preserving small-tail fold, replays and snapshots keep
    * working, cost bounded by the small tail. */
  def compactMinor(
      targetPartitions: Int = 8,
      maxSegmentBytes: Long = 256L << 20): Boolean = synchronized {
    store.compactSmall(Seq("kind", "band", "bkey"), targetPartitions,
      maxSegmentBytes)
  }

  private def stateAt(pre: Option[Long]): DataFrame = pre match {
    case Some(v) if v <= 0 =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], FingerprintIndex.storeSchema)
    case Some(v) => store.readAsOf(v).drop("_ver")
    case None => store.read
  }

  private def bandsAt(pre: Option[Long]): DataFrame =
    stateAt(pre).where(col("kind") === "fp")
      .select(col("id"), col("band"), col("bkey"), col("h"))
}

object FingerprintIndex {

  /** Range-tiled segment files per commit — few files (planning and
    * open cost stay O(commits), not O(commits × shuffle.partitions))
    * with tight per-file (band, bkey) stats. */
  val SegmentsPerCommit: Int = 4

  /** Routing literals for the commit's deterministic band tiling:
    * `routing(n)(t)` is an int that Spark's own hash partitioning
    * (`HashPartitioning.partitionIdExpression`, evaluated on the
    * literal) sends to partition exactly `t` of `n`, so
    * `repartition(n, lit-mapped band)` places band-block t in
    * partition t WITHOUT the range partitioner's sampling job. Found
    * by scanning small ints — a handful of hash evaluations, once
    * per n. */
  private[graft] def routing(n: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val out = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var i = 0
    while (remaining > 0) {
      val t = HashPartitioning(Seq(Literal(i)), n).partitionIdExpression
        .eval().asInstanceOf[Int]
      if (!found(t)) { found(t) = true; out(t) = i; remaining -= 1 }
      i += 1
    }
    out
  }

  private[dedup] val storeSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("id", LongType, nullable = true),
    StructField("band", IntegerType, nullable = true),
    StructField("bkey", LongType, nullable = true),
    StructField("h", LongType, nullable = true),
    StructField("admitted", BooleanType, nullable = true),
    StructField("batch_id", StringType, nullable = true)
  ))

  /** Open (or create) the index at `dir` with the pinned geometry;
    * a reopen REFUSES a mismatch. */
  def open(spark: SparkSession, dir: String, bands: Int = 4,
      bits: Int = 32): FingerprintIndex = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64 (got $bits)")
    require(bits % bands == 0, s"bands must divide $bits (got $bands)")
    storedParams(dir) match {
      case Some((b, w)) =>
        require(b == bands && w == bits,
          s"FingerprintIndex at $dir was built with (bands=$b, bits=$w) " +
            s"— band keys under different geometry are disjoint " +
            "namespaces; probes would silently miss")
      case None =>
        FileIO.forPath(dir).mkdirs(dir)
        val props = new Properties()
        props.setProperty("bands", bands.toString)
        props.setProperty("bits", bits.toString)
        FileIO.storeProps(marker(dir), props,
          "graft FingerprintIndex geometry")
    }
    new FingerprintIndex(spark, dir,
      TableStore.open(spark, FileIO.join(dir, "store"), storeSchema),
      bands, bits)
  }

  /** Reopen with the geometry the index was built with. */
  def open(spark: SparkSession, dir: String): FingerprintIndex = {
    val (b, w) = storedParams(dir).getOrElse(
      throw new IllegalArgumentException(s"no FingerprintIndex at $dir"))
    open(spark, dir, b, w)
  }

  private def marker(dir: String) = FileIO.join(dir, "geometry.properties")

  private def storedParams(dir: String): Option[(Int, Int)] =
    FileIO.loadProps(marker(dir)).map(p =>
      (p.getProperty("bands").toInt, p.getProperty("bits").toInt))
}
