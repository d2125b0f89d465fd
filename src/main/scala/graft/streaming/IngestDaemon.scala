package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.dedup.{DedupIndex, DedupParams}
import graft.pipeline.Curation
import graft.storage.{FileIO, TableStore}

/** Gate / dedup / survivor-rule knobs of an [[IngestDaemon]]. The
  * banding parameters live in [[DedupParams]] (persisted with the
  * index and refused on mismatch at reopen); the gates are
  * policy-of-the-day and intentionally NOT pinned across the corpus —
  * tightening `minQuality` mid-corpus only affects future batches.
  * WITHIN one batch they are pinned: [[IngestDaemon.processBatch]]
  * records them ON the index commit's own journal row
  * ([[graft.dedup.DedupIndex.recordedGates]]), and a replay of a
  * half-applied batch gates with the knobs OF RECORD, so a config
  * change in a crash window cannot diverge the seen store from the
  * rows already indexed. */
final case class IngestConfig(
    textCol: String = "text",
    idCol: String = "doc_id",
    lang: String = "en",
    minQuality: Double = 0.5,
    minTokens: Int = 10,
    maxTokens: Int = 100000,
    threshold: Double = 0.5,
    maxBucket: Long = 10000L,
    params: DedupParams = DedupParams(),
    // `Some(embeddingCol)` composes the EMBEDDING near-dup tier into
    // the loop: a [[graft.dedup.VecDedupIndex]] under `dir/vecindex`
    // (signature width `vecBits`, pinned at creation) ingests each
    // batch's text-admitted survivors in the same exactly-once step,
    // and the corpus admits only vectors that survive both tiers
    vecCol: Option[String] = None,
    vecThreshold: Double = 0.95,
    vecMaxBucket: Long = 10000L,
    vecBits: Int = 8,
    // `Some(embeddingCol)` composes the SEMANTIC dedup tier (SemDeDup)
    // as well: a [[graft.dedup.SemanticIndex]] under `dir/semindex`
    // (codebook `semCents`, pinned at creation) runs AFTER the
    // near-dup tiers on whatever they admitted. Both vector tiers may
    // be active at once — text → near-dup → SemDeDup → seen, four
    // journaled commits, one exactly-once step
    semCol: Option[String] = None,
    semCents: Seq[(Long, Seq[Float])] = Nil,
    semThreshold: Double = 0.95,
    // `Some(strataCol)` composes the STATISTICS tier: a
    // [[graft.sketch.ProfileIndex]] under `dir/profile` (k =
    // `profileK`, pinned at creation with the column names) ingests
    // each batch's FINAL admitted set in the same exactly-once step,
    // so the standing corpus profile (docs/tokens/distinct-content/
    // vocab estimates per stratum) is always current without ever
    // rescanning the corpus
    profileStrataCol: Option[String] = None,
    profileK: Int = 1024,
    // `Some(col)` adds the VALUE-DISTRIBUTION leg to the statistics
    // tier: the ProfileIndex also maintains a mergeable bottom-k
    // sample of this numeric column per stratum (standing
    // quantiles/mean — [[graft.sketch.SampleSketch]]), pinned with
    // the other profile parameters
    profileValueCol: Option[String] = None,
    // `Some(fpCol)` composes the HAMMING (fingerprint) tier: a
    // [[graft.dedup.FingerprintIndex]] under `dir/fpindex` (geometry
    // `fpBands`/`fpBits`, pinned at creation) ingests the
    // so-far-admitted survivors' 64/32-bit fingerprints (SimHash,
    // pHash) after the semantic tier, and the corpus admits only
    // every-tier survivors — the media-dedup leg of the loop
    fpCol: Option[String] = None,
    fpMaxHamming: Int = 2,
    fpMaxBucket: Long = 100000L,
    fpBands: Int = 4,
    fpBits: Int = 64,
    // true composes the BOILERPLATE tier: a
    // [[graft.pipeline.BoilerplateIndex]] under `dir/boilerplate`
    // (gram width pinned at creation) accumulates the FINAL admitted
    // set's per-gram document frequencies each batch, keeping the
    // standing boilerplate dictionary current without corpus rescans
    boilerplate: Boolean = false,
    boilerplateWidth: Int = 3,
    // `Some(dir)` composes benchmark DECONTAMINATION into the gate
    // stage: `dir` holds a parquet of eval texts (same `textCol`);
    // every batch drops docs sharing ≥ `decontaminateMinOverlap`
    // `decontaminateWidth`-grams with it BEFORE dedup, so benchmark
    // text never enters any index or the corpus. The dir and knobs
    // ride the per-batch gate record (crash replays decontaminate
    // identically); the eval set itself must be an immutable artifact
    // — swap sets by writing a NEW dir and changing the config
    decontaminateDir: Option[String] = None,
    decontaminateWidth: Int = 3,
    decontaminateMinOverlap: Long = 1L,
    // `Some(dir)` composes decontamination against a STANDING
    // [[graft.pipeline.EvalIndex]] instead of a raw eval parquet —
    // the VERSIONED form: suites accumulate in the artifact over
    // time, and each fresh batch gates against the dictionary AS OF
    // the index version current at its commit, with that version
    // recorded on the journal row. A suite registered inside a crash
    // window therefore cannot change a half-applied batch's replayed
    // gating (the replay reads `keysAsOf` the recorded version) —
    // a strictly stronger contract than `decontaminateDir`'s
    // "the eval set must be immutable" convention. The gram width is
    // the INDEX's pinned width; `decontaminateMinOverlap` applies.
    // Mutually exclusive with `decontaminateDir`. Like that knob,
    // the dictionary is driver-pinned per (dir, version) — past
    // EvalIndex.gramKeys' 1M-key bound the open refuses loudly
    // (benchmark suites are thousands of docs; a dictionary that big
    // is a misconfiguration, not a scale path)
    decontaminateIndexDir: Option[String] = None,
    // the pinned index version for the record/replay path — leave
    // None (the daemon resolves and records the current version per
    // fresh batch); set only by the knobs-of-record parser
    decontaminateIndexVer: Option[Long] = None,
    // true composes the Gopher REPETITION gate (Rae et al. 2021 Table
    // A1 — [[graft.pipeline.Curation.repetitionGate]]) into the gate
    // stage, after the language/quality gate and before
    // decontamination: one more narrow predicate fused into the batch
    // scan. The eleven thresholds ride the per-batch gate record like
    // every other knob (a crash-window replay gates with the
    // thresholds OF RECORD)
    repetition: Boolean = false,
    repMaxDupLineFrac: Double = 0.30,
    repMaxDupLineCharFrac: Double = 0.20,
    repMaxTopNgramCharFrac: Seq[Double] = Seq(0.20, 0.18, 0.16),
    repMaxDupNgramCharFrac: Seq[Double] =
      Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10),
    // true composes the DSIR tier: a [[graft.pipeline.DsirIndex]]
    // under `dir/dsir` (hash knobs pinned at creation) accumulates
    // each GATED batch's raw-side bucket counts in the same
    // exactly-once step and scores the FINAL admitted set against the
    // standing dictionary — the score lands on the seen store's doc
    // rows (`dsir_logw`), so the curated corpus carries its importance
    // weights without ever rescanning. The TARGET side is ingested
    // out-of-band, once per trusted-corpus version
    // (`daemon.dsirIndex.get.ingestTarget(...)`) BEFORE the first
    // scored batch — scoring refuses loudly with no target model
    dsir: Boolean = false,
    dsirBuckets: Int = 8192,
    dsirBigrams: Boolean = true,
    dsirAlpha: Double = 1.0,
    dsirSeed: String = "dsir",
    dsirPortable: Boolean = true,
    // `Some(dir)` auto-registers the trusted TARGET corpus (a parquet
    // of `textCol`) into the standing model at open, journaled as
    // `target:<dir>` — idempotent, so every reopen no-ops and the
    // target is scanned exactly once ever. Without it the operator
    // calls `daemon.dsirIndex.get.ingestTarget(...)` manually before
    // the first scored batch (scoring refuses loudly with no target)
    dsirTargetDir: Option[String] = None,
    // true (default) sums each doc's log-ratios in sorted order —
    // bit-identical scores on a crash-window replay (and under the
    // oracle). false is the production scale knob: plain partial-agg
    // sum, ≤ last-ulp wobble between a run and its replay
    dsirDeterministic: Boolean = true,
    // DRIFT → ACTION (requires the profile tier's VALUE leg:
    // profileStrataCol + profileValueCol). Before a fresh batch's
    // first commit, the GATED batch's per-stratum value distribution
    // is KS-compared against the STANDING profile's bottom-k samples
    // ([[graft.sketch.Drift.ksStat]] — profile-sized work, the corpus
    // is never touched). The measured max KS is recorded on the index
    // journal row (`driftMaxKs`, read back via
    // [[IngestDaemon.recordedDrift]]); past `driftWarnKs` the record
    // adds `driftWarned=true`; past `driftAbortKs` the batch is
    // REFUSED before anything commits — a deterministic abort the
    // operator clears by raising the knob or accepting the new shape.
    // The batch side is deliberately the gated (pre-dedup) batch: the
    // monitor asks whether today's INCOMING data is shaped
    // differently, and it must decide before the first commit so an
    // abort leaves no partial state
    driftWarnKs: Option[Double] = None,
    driftAbortKs: Option[Double] = None,
    // AUTOMATED STORE MAINTENANCE: without it every standing store
    // (seen + up to seven tiers) grows segments, manifest entries and
    // journal rows O(batches) FOREVER — merge-on-read and plan cost
    // follow, and the operator is left running [[IngestDaemon.compact]]
    // by hand (the reference runs persistence maintenance as a duty of
    // the store itself: multilog/roaring/multilog.go:28-57's standing
    // bitmap flusher). `compactEvery = Some(n)` folds ALL composed
    // stores after every n fully-applied batches (counted per handle);
    // `compactMaxSegments = Some(s)` triggers whenever the seen
    // store's committed segment-file count reaches s (an O(1) manifest
    // read — restart-robust where the batch counter is per-handle).
    // Maintenance is policy-of-NOW, deliberately NOT a knob of record:
    // it never changes any batch's gating or admission, only the
    // layout, and it runs only before FRESH batches — a half-applied
    // replay is never preceded by a fold that would refuse its
    // pre-batch snapshot. Snapshot reads ([[IngestDaemon.corpusAsOf]])
    // below the fold horizon refuse loudly, exactly as with manual
    // compaction — pin exports you need long-term BEFORE enabling
    // aggressive folding.
    compactEvery: Option[Int] = None,
    compactMaxSegments: Option[Int] = None,
    compactTargetPartitions: Int = 8,
    // `compactMinor = true` makes the automated policy a MINOR fold
    // (TableStore.compactSmall): only the small recent segments of the
    // corpus-shaped stores (seen + text/vec/sem/fp indexes) are
    // rewritten, PRESERVING every row's commit version — snapshot
    // reads, corpusAsOf and crash-window replays keep working across
    // it, and fold cost is bounded by the small tail instead of the
    // corpus (a full fold rewrites O(corpus) bytes per trigger, which
    // stops being viable as the standing corpus outgrows the batch
    // rate). The count-folding artifact stores (profile, boilerplate,
    // DSIR, eval) keep their aggregate full folds — those stores are
    // bucket-bounded, never corpus-shaped, and their fold IS an
    // aggregation, not a layout change.
    compactMinor: Boolean = false,
    // minor-fold graduation threshold: a segment at or above this
    // size is never rewritten by the minor policy (its bytes
    // amortize across every later fold). Lower it when batches are
    // small so folded segments graduate sooner; at the default a
    // store's minor-fold cost is bounded by ~256 MB of recent tail
    // regardless of corpus size.
    compactSmallBytes: Long = 256L << 20
)

/** The composed steady-state ingest-curation loop — the reference's
  * resumable-derived-view discipline (SinkIndex cursor-after-apply,
  * indexes/sinkindex.go:39-50) applied to the flagship LLM pipeline:
  *
  *   readStream(graft-log) → gates → incremental exact + LSH dedup
  *   against the standing [[DedupIndex]] → survivor append + index
  *   advance, per micro-batch, checkpointed, restart-resumable.
  *
  * Two managed stores under `dir`:
  *
  *   - `dir/index` — the [[DedupIndex]]: band keys + fingerprints of
  *     every exact survivor ever seen, with its per-batch journal
  *     (ONE atomic commit per batch: probe outputs are replayable
  *     against the pre-batch snapshot).
  *   - `dir/seen` — a [[TableStore]] holding the TEXTS behind the
  *     index (the verify stage's fetch side must cover every indexed
  *     doc, including near-dup LOSERS — a future batch can pair with
  *     a loser whose canonical shares none of its buckets) plus an
  *     `admitted` flag and its own batch journal. The curated corpus
  *     is `seen WHERE admitted`.
  *
  * Crash contract (why two journals make the loop exactly-once):
  * [[processBatch]] commits the index FIRST, the seen store second,
  * and checks the SEEN journal up front —
  *
  *   - crash before the index commit: nothing visible anywhere; the
  *     checkpointed source redelivers the identical batch (seq
  *     offsets) and the rerun is a fresh run;
  *   - crash between the commits: the rerun finds the index journal,
  *     [[DedupIndex.ingest]] recomputes the identical outputs against
  *     the PRE-batch snapshot (`readAsOf`) without appending again,
  *     and the seen store — still in its pre-batch state, which is
  *     exactly the fetch side the replay needs — commits once;
  *   - crash after both (before the streaming commit log records the
  *     batch): the rerun sees the seen journal and skips outright.
  *
  * Either way every document is admitted or dropped EXACTLY once, and
  * the next batch probes an index holding this batch exactly once.
  * The gate knobs are part of the contract: they RIDE THE INDEX
  * JOURNAL ROW itself ([[DedupIndex.recordedGates]]) — atomic with
  * the very commit they describe, surviving compact, never present
  * without their commit — and a half-applied replay gates with the
  * knobs OF RECORD, so changing the config between a crash and the
  * restart affects only batches not yet index-committed.
  *
  * With `config.vecCol` and/or `config.semCol` set, more journaled
  * stores join the loop: a [[graft.dedup.VecDedupIndex]] under
  * `dir/vecindex` (embedding near-dup) and/or a
  * [[graft.dedup.SemanticIndex]] under `dir/semindex` (SemDeDup,
  * pinned codebook) ingest each batch's so-far-admitted survivors
  * between the text-index commit and the seen commit, and the corpus
  * admits only every-tier survivors; `config.fpCol` adds the HAMMING
  * tier (a [[graft.dedup.FingerprintIndex]] under `dir/fpindex`,
  * pinned geometry) after them; with `config.profileStrataCol`
  * set, a [[graft.sketch.ProfileIndex]] under `dir/profile` keeps
  * the standing corpus profile current from each batch's FINAL
  * admitted set, and `config.boilerplate` keeps the standing
  * gram-df dictionary ([[graft.pipeline.BoilerplateIndex]] under
  * `dir/boilerplate`) current the same way; `config.dsir` keeps the
  * standing DSIR raw-pool model ([[graft.pipeline.DsirIndex]] under
  * `dir/dsir`) current and lands each admitted doc's importance
  * weight on its seen row — up to SEVEN journaled
  * stores and the seen store advancing in one exactly-once step.
  * Commit order text index → vector index → semantic index →
  * fingerprint index → profile → boilerplate → dsir → seen extends the
  * same argument to every new
  * crash window: each store's journal rides its own atomic commit,
  * each ingest is idempotent by `batchId` with pre-batch-snapshot
  * replays (the profile ingest is replay-window-free outright — it
  * depends on nothing but the batch), and EVERY composed tier's
  * knobs — vec/sem thresholds, profile strata/k, decontamination —
  * ride the same journal-row record — so a kill between ANY pair of
  * commits replays to the identical final state, even across a
  * config change that toggles a tier.
  *
  * Id contract: `idCol` values must be globally unique across the
  * stream's lifetime (the graft-log `seq` is the natural choice) —
  * the same disjointness [[DedupIndex.ingest]] requires.
  *
  * Plan shape at 100 TB: per batch, the gates fuse into the batch
  * scan; the probe is batch-linear (count-gated broadcast of the
  * batch's bucket keys into the standing index, capped buckets,
  * pushed-id text fetch); the two commits append batch-sized parquet.
  * Nothing corpus-sized moves, shuffles, or rewrites on the ingest
  * path — corpus-sized work happens only in explicit [[compact]]
  * maintenance.
  */
final class IngestDaemon private (
    val spark: SparkSession,
    val dir: String,
    val index: DedupIndex,
    seen: TableStore,
    val config: IngestConfig,
    val vecIndex: Option[graft.dedup.VecDedupIndex],
    val semIndex: Option[graft.dedup.SemanticIndex],
    val profileIndex: Option[graft.sketch.ProfileIndex],
    val fpIndex: Option[graft.dedup.FingerprintIndex],
    val boilIndex: Option[graft.pipeline.BoilerplateIndex],
    val dsirIndex: Option[graft.pipeline.DsirIndex]
) {

  import IngestDaemon.seenSchema

  // the eval set is an IMMUTABLE artifact: collect its gram
  // dictionary once per (dir, width) per handle, not once per
  // micro-batch (keyed because a half-applied replay may run under a
  // RECORDED dir/width differing from the current config); only read
  // under processBatch's lock
  @transient private val evalKeysCache =
    scala.collection.mutable.Map.empty[(String, Int), Array[Long]]
  private def evalKeysFor(edir: String, width: Int, textCol: String) =
    evalKeysCache.getOrElseUpdate((edir, width),
      graft.pipeline.Decontaminate.evalGramKeys(
        spark.read.parquet(edir).select(col(textCol)), textCol, width))

  // the standing-EvalIndex variant: handles + collected dictionaries
  // cached per (dir, version) — a replaying batch may pin an OLDER
  // version than the live one, and both can be in play in one handle's
  // lifetime; only read under processBatch's lock
  @transient private val evalIdxCache =
    scala.collection.mutable.Map.empty[String, graft.pipeline.EvalIndex]
  @transient private val evalIdxKeysCache =
    scala.collection.mutable.Map.empty[(String, Long), (Int, Array[Long])]
  private def evalIdxFor(dir: String): graft.pipeline.EvalIndex =
    evalIdxCache.getOrElseUpdate(dir,
      graft.pipeline.EvalIndex.open(spark, dir))
  /** (width, keys) of the standing eval dictionary at `ver`. */
  private def evalIdxKeysFor(dir: String, ver: Long): (Int, Array[Long]) =
    evalIdxKeysCache.getOrElseUpdate((dir, ver), {
      val idx = evalIdxFor(dir)
      (idx.width, idx.gramKeys(asOf = Some(ver)))
    })

  /** Durable, batch-sized recomputation pin — the scale-safe stand-in
    * for `localCheckpoint` in the daemon's tier chain. Checkpoint
    * blocks are executor-local: on a preemptible cluster an executor
    * death mid-chain loses them UNRECOVERABLY and the whole
    * multi-commit batch fails back to the top. A parquet pin under
    * `dir/pins` survives any executor, costs one batch-sized write,
    * and reads back columnar. One slot per stage, overwritten per
    * batch (a replay recomputes identical rows), so pin storage is
    * bounded by ONE batch regardless of ingest history — which also
    * means frames returned in an [[graft.dedup.IngestResult]] remain
    * valid only until the NEXT processBatch call.
    *
    * The library-internal `localCheckpoint` sites the chain still
    * crosses (e.g. the banded batch inside
    * [[graft.dedup.DedupIndex.ingest]], candidate frames inside
    * [[graft.dedup.Dedup]]) are short-lived WITHIN one store's ingest
    * call: a lost block there fails that one job, which the streaming
    * retry re-runs from the durable gated pin — they never bridge
    * commits the way the tier-chain pins do. */
  private def pinFrame(stage: String, df: DataFrame): DataFrame = {
    // storage-plane discipline (same shape as TableStore's segment
    // writes): Spark spills the parquet into a `tmp-*` staging dir,
    // FileIO publishes it over the stage slot — so pin litter has the
    // one sweepable shape ([[checkConsistency]] covers `dir/pins`),
    // and the publish rides the same FS routing every other
    // storage-plane write goes through. No atomicity is needed: pins
    // are single-consumer within one processBatch call and a replay
    // recomputes them from scratch.
    val io = FileIO.forPath(dir)
    val pins = FileIO.join(dir, "pins")
    val tmp = FileIO.join(pins,
      s"tmp-$stage-${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.mode("overwrite").parquet(tmp)
    val target = FileIO.join(pins, stage)
    io.deleteRecursively(target)
    io.rename(tmp, target)
    spark.read.parquet(target)
  }

  /** Crash-litter sweep across the daemon's own storage plane: the
    * seen store's fsck (orphan segments, torn manifests) plus the
    * `dir/pins` recomputation pins — `tmp-*` staging litter from a
    * crashed [[processBatch]] and aged stage slots (pins are never
    * read across restarts: a replay recomputes them, so any pin older
    * than `minAgeMs` is disposable). Tier artifacts fold their own
    * hygiene into their stores' sweeps; this covers what only the
    * daemon owns. Age-gated like every sweep here: young litter may
    * be another process's in-flight batch. */
  def checkConsistency(
      repair: Boolean = false,
      minAgeMs: Long = 600000L): List[String] = synchronized {
    val issues = scala.collection.mutable.ListBuffer.empty[String]
    issues ++= seen.checkConsistency(repair, minAgeMs).map("seen: " + _)
    val io = FileIO.forPath(dir)
    val pins = FileIO.join(dir, "pins")
    io.list(pins).filterNot(e => FileIO.isHidden(e.name)).foreach { e =>
      // stage slots (gated, admit-*) are NORMAL between-batch state —
      // bounded by one batch, overwritten next call — not litter;
      // only crashed-publish staging dirs are
      if (e.name.startsWith("tmp-")) {
        issues += s"pins: orphan staging dir ${e.name}"
        if (repair && graft.storage.FsckSweep.oldEnough(e.mtimeMs, minAgeMs))
          io.deleteRecursively(e.path)
      }
    }
    issues.toList
  }

  /** Texts of every doc behind the standing index — the verify fetch
    * side. */
  def seenTexts: DataFrame =
    seen.read.where(col("kind") === "doc")
      .select(col("id").as(config.idCol), col("text").as(config.textCol))

  /** The curated corpus: every admitted survivor, with the gate's
    * `n_tokens` / `quality` columns. */
  def corpus: DataFrame =
    corpusFrom(seen.read)

  /** The seen store's current commit version — the handle a
    * reproducible training run pins ([[corpusAsOf]]). */
  def version: Long = seen.version

  /** The curated corpus EXACTLY as of seen-store commit `version` —
    * the reproducible-training handle: a run records
    * `daemon.version` when it starts and reads `corpusAsOf(v)`
    * thereafter, immune to ongoing ingest (a batch committed after
    * `v` is invisible, including its admit flags). Pairs with
    * [[graft.pipeline.Shards.writeJsonlShards]] for a frozen shard
    * export. Fails loudly if a later [[compact]] folded that history
    * away — a silent approximation would un-pin the run. */
  def corpusAsOf(version: Long): DataFrame =
    corpusFrom(seen.readAsOf(version).drop("_ver"))

  private def corpusFrom(state: DataFrame): DataFrame =
    state.where(col("kind") === "doc" && col("admitted"))
      .select(col("id").as(config.idCol), col("text").as(config.textCol),
        col("n_tokens"), col("quality"), col("dsir_logw"))

  /** The drift measurement recorded on `batchId`'s index journal row,
    * if the drift monitor ran for it: `(maxKs, warned)`. The record is
    * the monitor's audit trail — atomic with the commit it gated,
    * surviving compaction like the rest of the knobs of record. */
  def recordedDrift(batchId: String): Option[(Double, Boolean)] =
    index.recordedGates(batchId).flatMap { s =>
      val m = s.split("\n").iterator.map(_.trim)
        .filter(_.contains("=")).map { l =>
          val i = l.indexOf('=')
          l.substring(0, i) -> l.substring(i + 1)
        }.toMap
      m.get("driftMaxKs").map(ks =>
        (ks.toDouble, m.get("driftWarned").exists(_.toBoolean)))
    }

  /** The seen-store commit that fully applied `batchId`, if any. */
  def appliedVersion(batchId: String): Option[Long] =
    seen.readVersioned
      .where(col("kind") === "batch" && col("batch_id") === batchId)
      .select(col("_ver"))
      .collect()
      .headOption
      .map(_.getLong(0))

  /** One transactional ingest step — callable from a foreachBatch
    * sink (see [[start]]) or directly from batch code. Idempotent by
    * `batchId`: a redelivered batch that was fully applied is a
    * no-op; one whose index commit landed but whose seen commit did
    * not is finished via the index's snapshot replay.
    *
    * Returns the batch's [[graft.dedup.IngestResult]] (None when the
    * batch was skipped — already applied, or gated empty; `admitted`
    * is the FINAL set — both tiers — when the vector tier is
    * composed) so callers
    * can observe the `capped` flooded-bucket diagnostic: a bucket
    * past `maxBucket` is EXCLUDED from pairing (the batch-run-
    * equivalent decision), and a pipeline that never looks at the
    * diag is silently trading recall — IngestDaemonSpec pins that a
    * flood IS reported; production loops should alert on it. */
  def processBatch(batchId: String, rawDocs: DataFrame): Option[graft.dedup.IngestResult] =
    synchronized {
      if (appliedVersion(batchId).isDefined) return None // fully applied
      val idxApplied = index.appliedVersion(batchId)
      // a HALF-APPLIED replay (index committed, seen not) must gate
      // with the knobs the index commit was computed under — the
      // record riding that commit's own journal row — or the replayed
      // survivor set can diverge from the band rows already indexed,
      // breaking the "seen covers every indexed doc" fetch invariant.
      // Index commits made by driving `index` directly (outside
      // processBatch) carry no record and fall back to the current
      // config.
      val c0 =
        if (idxApplied.isDefined)
          index.recordedGates(batchId).map(IngestDaemon.parseGates(config, _))
            .getOrElse(config)
        else config
      // AUTOMATED MAINTENANCE (fresh batches only): a half-applied
      // replay must never be preceded by a fold — its index-side
      // replay reads the PRE-batch snapshot, which a fold would
      // refuse. A fresh batch has no committed state to replay, so
      // folding the standing stores first is always safe.
      if (idxApplied.isEmpty) maybeAutoCompact()
      // resolve the standing-eval-dictionary version THIS batch gates
      // under: the recorded one on a replay (a suite registered in
      // the crash window must not change the replayed gating), the
      // index's current version on a fresh run — recorded with the
      // rest of the knobs at the index commit below. The handle is
      // REFRESHED from the on-disk manifest first: "current" means
      // current across processes, not frozen at this handle's first
      // batch — suites another handle registered during the daemon's
      // lifetime must start gating from the next fresh batch.
      val c = c0.decontaminateIndexDir match {
        case Some(eid) if c0.decontaminateIndexVer.isEmpty =>
          val idx = evalIdxFor(eid)
          idx.refresh()
          c0.copy(decontaminateIndexVer = Some(idx.version))
        case _ => c0
      }
      val langGated = Curation.gate(rawDocs.select(c.idCol, c.textCol),
        c.textCol, c.lang, c.minQuality, c.minTokens, c.maxTokens)
      // composed repetition gate: one more narrow predicate fused
      // into the same batch scan, under the knobs of record
      val rawGated =
        if (!c.repetition) langGated
        else Curation.repetitionGate(langGated, c.textCol,
          c.repMaxDupLineFrac, c.repMaxDupLineCharFrac,
          c.repMaxTopNgramCharFrac, c.repMaxDupNgramCharFrac)
      // idle-trigger fast path BEFORE the decontamination collect: an
      // empty gated batch the index never saw commits nothing
      // (deterministic: its replay re-skips)
      if (idxApplied.isEmpty && rawGated.isEmpty) return None
      // composed decontamination: drop eval-overlapping docs before
      // any dedup tier sees them — under the knobs OF RECORD on a
      // half-applied replay, like every other gate
      val gated = (c.decontaminateDir, c.decontaminateIndexDir) match {
        case (Some(ed), _) =>
          graft.pipeline.Decontaminate.decontaminateWithKeys(
            rawGated, evalKeysFor(ed, c.decontaminateWidth, c.textCol),
            c.textCol, c.idCol,
            c.decontaminateWidth, c.decontaminateMinOverlap)
        case (None, Some(eid)) =>
          // standing EvalIndex, at the version of record; the gram
          // width is the artifact's pinned width
          val (w, keys) = evalIdxKeysFor(eid, c.decontaminateIndexVer.get)
          graft.pipeline.Decontaminate.decontaminateWithKeys(
            rawGated, keys, c.textCol, c.idCol, w,
            c.decontaminateMinOverlap)
        case _ => rawGated
      }
      if (idxApplied.isEmpty && gated.isEmpty) return None
      // Pin the GATED batch to a durable, batch-sized parquet under
      // the artifact dir: the gate chain (quality walk + optional
      // repetition panel + decontamination) is otherwise re-evaluated
      // by every downstream consumer — the index ingest alone reads
      // its input ~5 times (exact tier, banding, fetch, drop rule,
      // commit), and the dsir tier adds two more. One write, then
      // every consumer reads columnar parquet instead of re-walking
      // the text.
      val gatedPinned = pinFrame("gated", gated
        .select(col(c.idCol), col(c.textCol), col("n_tokens"),
          col("quality")))
      // Drift gate — FRESH runs only: a half-applied replay's drift
      // decision already happened (an aborted batch has no index
      // commit to replay) and its measurement rides the record it
      // replays under; recomputing here would compare against a
      // standing profile that may already include this batch.
      val driftMax: Option[Double] =
        if (idxApplied.isDefined ||
          (c.driftWarnKs.isEmpty && c.driftAbortKs.isEmpty)) None
        else (c.profileStrataCol, c.profileValueCol) match {
          case (Some(stratum), Some(vc)) =>
            profileHandleFor(c).flatMap { pi =>
              val standing = pi.profile
                .select(col(stratum), col("vs_values").as("_pv"))
              val batchRows = gatedPinned.select(col(c.idCol)).join(
                rawDocs.select(col(c.idCol), col(c.textCol),
                  col(stratum), col(vc)),
                Seq(c.idCol))
              val batchSide = graft.sketch.SampleSketch
                .valueSketch(batchRows, Seq(stratum),
                  graft.text.TextFunctions.fingerprint(col(c.textCol)),
                  col(vc), c.profileK)
                .select(col(stratum), col("vs_values").as("_bv"))
              val m = graft.sketch.Drift
                .ksStat(standing.join(batchSide, Seq(stratum)),
                  stratum, "_pv", "_bv")
                .agg(max(col("ks"))).collect().head
              if (m.isNullAt(0)) None else Some(m.getDouble(0))
            }
          case _ => throw new IllegalArgumentException(
            "driftWarnKs/driftAbortKs require the profile tier's value " +
              "leg (profileStrataCol + profileValueCol) — there is no " +
              "standing distribution to compare against otherwise")
        }
      driftMax.foreach { m =>
        c.driftAbortKs.foreach { t =>
          if (m >= t) throw new IllegalStateException(
            f"ingest batch $batchId refused: per-stratum value drift " +
              f"KS=$m%.6f >= driftAbortKs=$t — the incoming batch is " +
              "shaped unlike the standing corpus; nothing was " +
              "committed (raise the knob or accept the new shape to " +
              "proceed)")
        }
      }
      val driftRecord = driftMax.map { m =>
        s"\ndriftMaxKs=$m" +
          (if (c.driftWarnKs.exists(m >= _)) "\ndriftWarned=true" else "")
      }.getOrElse("")
      // the knobs of record ride the index commit itself (the journal
      // row's `gates` payload): every crash window after the commit
      // replays under them, and the record can never exist without
      // its commit or vice versa
      val result = index.ingest(batchId, gatedPinned, c.textCol, c.idCol,
        corpusTexts = seenTexts, threshold = c.threshold,
        maxBucket = c.maxBucket,
        gates = Some(IngestDaemon.gatesString(c) + driftRecord))
      // Tier chaining: each tier's admitted set is reduced to the id
      // column and MATERIALIZED once before the next tier consumes
      // it — downstream tiers, the stats tiers and the seen append
      // otherwise re-run the ENTIRE upstream probe lineage per
      // consumer (the un-pinned six-store chain measured ~2x the
      // four-store cost from exactly this; BASELINE.md, "Six-store
      // composed daemon"). The pin
      // is a STORE-BACKED parquet, not localCheckpoint: checkpoint
      // blocks are executor-local and unrecoverable on executor
      // death, so on a preemptible cluster a lost block strands the
      // long multi-commit chain mid-batch; a batch-sized parquet
      // under the artifact dir survives any executor and costs one
      // small write. Skipped when no tier is composed: the plain loop
      // keeps its lazy single-evaluation shape.
      val tiersOn = (vecHandleFor(c), c.vecCol, semHandleFor(c), c.semCol,
        fpHandleFor(c), c.fpCol) match {
        case (Some(_), Some(_), _, _, _, _) => true
        case (_, _, Some(_), Some(_), _, _) => true
        case (_, _, _, _, Some(_), Some(_)) => true
        // the DSIR tier adds a second consumer of the admitted set
        // (the scoring join, besides the seen append) — pin the chain
        // for it too
        case _ => c.dsir
      }
      def pinIds(stage: String)(df: DataFrame): DataFrame =
        if (tiersOn) pinFrame(stage, df.select(col(c.idCol))) else df
      val textAdmitted = pinIds("admit-text")(result.admitted)
      // composed vector tier: the text-admitted survivors' embeddings
      // run the incremental near-dup loop against the standing
      // VecDedupIndex — its own journaled commit, idempotent by the
      // same batchId, so every crash window replays clean (a replay
      // of either index recomputes against its pre-batch snapshot).
      // The corpus admits only docs that survive BOTH tiers; the
      // vector index holds every text-admitted vector (losers too —
      // the recall argument of the text index applies unchanged).
      val afterVec = (vecHandleFor(c), c.vecCol) match {
        case (Some(vi), Some(vc)) =>
          val withVec = textAdmitted.select(col(c.idCol)).join(
            rawDocs.select(col(c.idCol), col(vc)), Seq(c.idCol))
          pinIds("admit-vec")(vi.ingest(batchId, withVec, vc, c.idCol,
            threshold = c.vecThreshold, maxBucket = c.vecMaxBucket)
            .admitted)
        case _ => textAdmitted
      }
      // SemDeDup tier, after the near-dup tiers: same journaled
      // idempotent-ingest argument, one more commit in the chain
      val afterSem = (semHandleFor(c), c.semCol) match {
        case (Some(si), Some(sc)) =>
          val withSem = afterVec.select(col(c.idCol)).join(
            rawDocs.select(col(c.idCol), col(sc)), Seq(c.idCol))
          pinIds("admit-sem")(si.ingest(batchId, withSem, sc, c.idCol,
            threshold = c.semThreshold).admitted)
        case _ => afterVec
      }
      // Hamming (fingerprint) tier, after the other admission tiers:
      // the so-far-admitted survivors' fingerprints run the
      // incremental Hamming loop against the standing
      // FingerprintIndex — its own journaled commit, idempotent by
      // batchId, pre-batch-snapshot replays, the same crash argument
      val afterFp = (fpHandleFor(c), c.fpCol) match {
        case (Some(fi), Some(fc)) =>
          val withFp = afterSem.select(col(c.idCol)).join(
            rawDocs.select(col(c.idCol), col(fc)), Seq(c.idCol))
          pinIds("admit-fp")(fi.ingest(batchId, withFp, fc, c.idCol,
            maxHamming = c.fpMaxHamming, maxBucket = c.fpMaxBucket)
            .admitted)
        case _ => afterSem
      }
      // composed statistics tier: profile the FINAL admitted set
      // (all tiers) into the standing ProfileIndex. Its commit lands
      // BEFORE the seen commit — the seen journal is the terminal
      // "fully applied" marker, so every crash window replays into
      // processBatch, where the deterministic admitted set feeds an
      // idempotent-by-batchId profile ingest (already-applied skips).
      // Committing after seen would leave a crash window the early
      // return above never repairs.
      (profileHandleFor(c), c.profileStrataCol) match {
        case (Some(pi), Some(stratum)) =>
          val cols = (Seq(c.idCol, c.textCol, stratum) ++
            c.profileValueCol).distinct
          pi.ingest(batchId,
            afterFp.select(col(c.idCol)).join(
              rawDocs.select(cols.map(col): _*),
              Seq(c.idCol)))
        case _ => ()
      }
      // boilerplate tier: accumulate the FINAL admitted set's gram-df
      // rows into the standing dictionary — replay-window-free like
      // the profile (a batch's gram counts depend only on the batch),
      // committed before seen for the same terminal-marker reason
      boilHandleFor(c).foreach { bi =>
        bi.ingest(batchId,
          afterFp.select(col(c.idCol)).join(
            rawDocs.select(col(c.idCol), col(c.textCol)), Seq(c.idCol)),
          c.textCol, c.idCol)
      }
      // composed DSIR tier: accumulate the GATED batch's raw-side
      // bucket counts into the standing model (its own journaled
      // commit, idempotent by batchId, replay-window-free — the
      // counts depend on nothing but the gated batch under the knobs
      // of record; the PIN feeds it, so the gate chain is not
      // re-evaluated), then score the FINAL admitted set against the
      // dictionary AT THE VERSION OF RECORD: the store commit that
      // applied this batch's raw counts (journaled — `ingestRaw`
      // returns it on a first run and a replay alike). A fresh run
      // and every crash-window replay therefore read the IDENTICAL
      // dictionary — even when an `ingestTarget` registration lands
      // inside the crash window — so the persisted `dsir_logw` is
      // reproducible from the journal alone (the eval tier's
      // version-of-record discipline, applied here).
      val dsirScores = dsirHandleFor(c).map { di =>
        val rawVer = di.ingestRaw(batchId, gatedPinned, c.textCol)
        di.score(
          afterFp.select(col(c.idCol)).join(
            rawDocs.select(col(c.idCol), col(c.textCol)), Seq(c.idCol)),
          c.textCol, c.idCol, c.dsirDeterministic, asOf = Some(rawVer))
          .select(col(c.idCol).cast("long").as("_dsir_id"),
            col("dsir_logw"))
      }
      val finalResult = result.copy(admitted = afterFp)
      val adm = finalResult.admitted
        .select(col(c.idCol).cast("long").as("_adm_id"))
      val nul = (t: String) => lit(null).cast(t)
      val docBase = result.exactSurvivors
        .select(col(c.idCol).cast("long").as("id"),
          col(c.textCol).cast("string").as("text"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("quality").cast("double").as("quality"))
        .join(adm, col("id") === col("_adm_id"), "left")
      val docScored = dsirScores match {
        case Some(sc) =>
          docBase.join(sc, col("id") === col("_dsir_id"), "left")
        case None => docBase.withColumn("dsir_logw", nul("double"))
      }
      val docRows = docScored
        .select(lit("doc").as("kind"), col("id"), col("text"),
          col("n_tokens"), col("quality"),
          col("_adm_id").isNotNull.as("admitted"),
          col("dsir_logw").cast("double").as("dsir_logw"),
          nul("string").as("batch_id"))
      val journalRow = spark.range(1).select(
        lit("batch").as("kind"), nul("long").as("id"),
        nul("string").as("text"), nul("long").as("n_tokens"),
        nul("double").as("quality"), nul("boolean").as("admitted"),
        nul("double").as("dsir_logw"),
        lit(batchId).as("batch_id"))
      // evaluating docRows re-reads the seen store lazily: the read
      // resolves against the still-pre-batch manifest (the commit
      // below only publishes after the segment files are written), so
      // the verify's fetch side stays the pre-batch snapshot
      seen.append(docRows.unionByName(journalRow))
      batchesSinceCompact += 1
      Some(finalResult)
    }

  /** Tier handles under the knobs OF RECORD: when a replay's recorded
    * knobs compose a tier the CURRENT config does not (the config
    * toggled between the crash and the restart), the artifact is
    * reopened from its own on-disk pinned parameters — it must exist,
    * because the daemon that wrote the record had it open. A tier the
    * record leaves off stays off, whatever the current config says. */
  private def vecHandleFor(c: IngestConfig) =
    if (c.vecCol.isEmpty) None
    else vecIndex.orElse(Some(graft.dedup.VecDedupIndex.reopen(
      spark, FileIO.join(dir, "vecindex"))))

  private def semHandleFor(c: IngestConfig) =
    if (c.semCol.isEmpty) None
    else semIndex.orElse(Some(graft.dedup.SemanticIndex.open(
      spark, FileIO.join(dir, "semindex"))))

  private def profileHandleFor(c: IngestConfig) =
    if (c.profileStrataCol.isEmpty) None
    else profileIndex
      .filter(_ => c.profileStrataCol == config.profileStrataCol &&
        c.profileK == config.profileK &&
        c.profileValueCol == config.profileValueCol)
      .orElse(Some(graft.sketch.ProfileIndex.open(
        spark, FileIO.join(dir, "profile"))))

  private def fpHandleFor(c: IngestConfig) =
    if (c.fpCol.isEmpty) None
    else fpIndex.orElse(Some(graft.dedup.FingerprintIndex.open(
      spark, FileIO.join(dir, "fpindex"))))

  private def boilHandleFor(c: IngestConfig) =
    if (!c.boilerplate) None
    else boilIndex.orElse(Some(graft.pipeline.BoilerplateIndex.open(
      spark, FileIO.join(dir, "boilerplate"))))

  private def dsirHandleFor(c: IngestConfig) =
    if (!c.dsir) None
    else dsirIndex.orElse(Some(graft.pipeline.DsirIndex.open(
      spark, FileIO.join(dir, "dsir"))))

  /** Wire a STREAMING `docs` frame (carrying `config.idCol` +
    * `config.textCol`) into the loop: one [[processBatch]] per
    * micro-batch, batch ids taken from the checkpointed streaming
    * batch counter (stable across restarts — the redelivery key the
    * crash contract keys on). */
  def start(
      docs: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0)
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(s"stream-$id", b)
        ()
      }
      .start()

  /** Offline maintenance (single writer, no concurrent readers — the
    * [[DedupIndex.compact]] contract): fold both stores' commit
    * history into few sorted segments so probe planning stays O(1) in
    * batch count. Journal rows survive; replaying a pre-fold batch is
    * refused loudly rather than recomputed against the wrong state. */
  // fully-applied batches since this handle's last fold — the
  // `compactEvery` trigger's counter (per-handle by design: a restart
  // resets it, which at worst DELAYS one fold; the segment-count
  // trigger is the restart-robust pressure valve)
  private var batchesSinceCompact = 0

  /** Fold the standing stores when the configured maintenance policy
    * says so — called by [[processBatch]] before every FRESH batch
    * (never before a replay, whose pre-batch snapshot a fold would
    * refuse). The triggers are current-config policy, not knobs of
    * record: maintenance changes layout, never any batch's admission. */
  private def maybeAutoCompact(): Unit = {
    val due =
      config.compactEvery.exists(batchesSinceCompact >= _) ||
        config.compactMaxSegments.exists(seen.segmentCount >= _)
    if (due) {
      if (config.compactMinor)
        compactMinor(config.compactTargetPartitions,
          config.compactSmallBytes)
      else compact(config.compactTargetPartitions)
      batchesSinceCompact = 0
    }
  }

  def compact(targetPartitions: Int = 8): Unit = synchronized {
    index.compact(targetPartitions)
    vecIndex.foreach(_.compact(targetPartitions))
    semIndex.foreach(_.compact(targetPartitions))
    profileIndex.foreach(_.compact())
    fpIndex.foreach(_.compact(targetPartitions))
    boilIndex.foreach(_.compact())
    dsirIndex.foreach(_.compact())
    seen.rewrite(
      _.repartitionByRange(targetPartitions, col("kind"), col("id"))
        .sortWithinPartitions("kind", "id"))
  }

  /** MINOR maintenance: version-preserving small-tail folds on the
    * corpus-shaped stores (seen + composed dedup indexes), aggregate
    * folds on the bucket-bounded artifact stores (their fold is an
    * aggregation, not a layout change — and their size is bounded by
    * buckets, not the corpus). The CORPUS-SHAPED stores never lose
    * history: `corpusAsOf`, index snapshot replays and in-flight
    * streams all keep working across it. The artifact-store aggregate
    * folds (profile/boilerplate/DSIR) DO fold their own store history
    * — `profileAsOf`/`dictAsOf` pins to pre-fold versions fail loudly
    * after a maintenance tick. Crash-window replays stay safe because
    * maintenance runs strictly BETWEEN batches and replays resolve
    * their version of record from the journal, never from a floating
    * "latest". */
  def compactMinor(
      targetPartitions: Int = 8,
      maxSegmentBytes: Long = 256L << 20): Unit = synchronized {
    index.compactMinor(targetPartitions, maxSegmentBytes)
    vecIndex.foreach(_.compactMinor(targetPartitions, maxSegmentBytes))
    semIndex.foreach(_.compactMinor(targetPartitions, maxSegmentBytes))
    profileIndex.foreach(_.compact())
    fpIndex.foreach(_.compactMinor(targetPartitions, maxSegmentBytes))
    boilIndex.foreach(_.compact())
    dsirIndex.foreach(_.compact())
    seen.compactSmall(Seq("kind", "id"), targetPartitions, maxSegmentBytes)
  }
}

object IngestDaemon {

  /** `doc` rows carry the text tier; `batch` rows are the seen-store
    * journal. Same one-store-one-manifest trick as
    * [[graft.dedup.DedupIndex]]: the survivor rows and the journal
    * row that marks them applied ride ONE atomic commit.
    *
    * Upgrade note: `dsir_logw` was appended in a later build; daemon
    * dirs created before it reopen via [[TableStore]]'s
    * trailing-nullable-column widening (pre-migration doc rows read
    * the column as null — exactly what a tier-less batch writes). Any
    * FUTURE column must likewise be appended LAST and nullable. */
  private val seenSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("id", LongType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("n_tokens", LongType, nullable = true),
    StructField("quality", DoubleType, nullable = true),
    StructField("admitted", BooleanType, nullable = true),
    // the DSIR importance weight of an admitted doc, when the tier is
    // composed; NULL otherwise (and on journal rows)
    StructField("dsir_logw", DoubleType, nullable = true),
    StructField("batch_id", StringType, nullable = true)
  ))

  /** Open (or create) the daemon's managed state under `dir`. The
    * banding parameters are persisted with the index and refused on
    * mismatch; the gate knobs are per-open policy. */
  def open(spark: SparkSession, dir: String,
      config: IngestConfig = IngestConfig()): IngestDaemon = {
    require(
      (config.driftWarnKs.isEmpty && config.driftAbortKs.isEmpty) ||
        (config.profileStrataCol.nonEmpty &&
          config.profileValueCol.nonEmpty),
      "driftWarnKs/driftAbortKs require the profile tier's value leg " +
        "(profileStrataCol + profileValueCol) — there is no standing " +
        "distribution to compare against otherwise")
    require(
      config.decontaminateDir.isEmpty ||
        config.decontaminateIndexDir.isEmpty,
      "decontaminateDir and decontaminateIndexDir are mutually " +
        "exclusive — register the raw eval set into the EvalIndex " +
        "and compose the index")
    val index =
      DedupIndex.open(spark, FileIO.join(dir, "index"), config.params)
    val seen = TableStore.open(
      spark, FileIO.join(dir, "seen"), seenSchema)
    val vec = config.vecCol.map { _ =>
      graft.dedup.VecDedupIndex.open(spark,
        FileIO.join(dir, "vecindex"), bits = config.vecBits)
    }
    val sem = config.semCol.map { _ =>
      require(config.semCents.nonEmpty,
        "semCol requires semCents (the pinned SemDeDup codebook)")
      graft.dedup.SemanticIndex.open(spark,
        FileIO.join(dir, "semindex"), config.semCents)
    }
    val prof = config.profileStrataCol.map { stratum =>
      graft.sketch.ProfileIndex.open(spark,
        FileIO.join(dir, "profile"), config.profileK, stratum,
        config.textCol, config.profileValueCol)
    }
    val fp = config.fpCol.map { _ =>
      graft.dedup.FingerprintIndex.open(spark,
        FileIO.join(dir, "fpindex"), config.fpBands, config.fpBits)
    }
    val boil =
      if (!config.boilerplate) None
      else Some(graft.pipeline.BoilerplateIndex.open(spark,
        FileIO.join(dir, "boilerplate"), config.boilerplateWidth))
    val dsir =
      if (!config.dsir) None
      else Some(graft.pipeline.DsirIndex.open(spark,
        FileIO.join(dir, "dsir"), config.dsirBuckets, config.dsirBigrams,
        config.dsirAlpha, config.dsirSeed, config.dsirPortable))
    for (di <- dsir; td <- config.dsirTargetDir)
      di.ingestTarget(s"target:$td",
        spark.read.parquet(td).select(config.textCol), config.textCol)
    new IngestDaemon(spark, dir, index, seen, config, vec, sem, prof,
      fp, boil, dsir)
  }

  /** Serialize the gate knobs as the batch's journal-row payload —
    * line-oriented `k=v`, Option knobs present only when set, so the
    * replay contract covers every composed tier uniformly (vec, sem,
    * profile, decontamination — including a tier toggled off/on by a
    * config change in the crash window). */
  private[graft] def gatesString(c: IngestConfig): String = {
    val kv = scala.collection.mutable.ListBuffer.empty[(String, String)]
    kv += ("lang" -> c.lang)
    kv += ("minQuality" -> c.minQuality.toString)
    kv += ("minTokens" -> c.minTokens.toString)
    kv += ("maxTokens" -> c.maxTokens.toString)
    kv += ("threshold" -> c.threshold.toString)
    kv += ("maxBucket" -> c.maxBucket.toString)
    c.vecCol.foreach(v => kv += ("vecCol" -> v))
    kv += ("vecThreshold" -> c.vecThreshold.toString)
    kv += ("vecMaxBucket" -> c.vecMaxBucket.toString)
    c.semCol.foreach(v => kv += ("semCol" -> v))
    kv += ("semThreshold" -> c.semThreshold.toString)
    c.profileStrataCol.foreach(v => kv += ("profileStrataCol" -> v))
    kv += ("profileK" -> c.profileK.toString)
    c.profileValueCol.foreach(v => kv += ("profileValueCol" -> v))
    c.fpCol.foreach(v => kv += ("fpCol" -> v))
    kv += ("fpMaxHamming" -> c.fpMaxHamming.toString)
    kv += ("fpMaxBucket" -> c.fpMaxBucket.toString)
    kv += ("boilerplate" -> c.boilerplate.toString)
    kv += ("boilerplateWidth" -> c.boilerplateWidth.toString)
    c.decontaminateDir.foreach(v => kv += ("decontaminateDir" -> v))
    kv += ("decontaminateWidth" -> c.decontaminateWidth.toString)
    kv += ("decontaminateMinOverlap" -> c.decontaminateMinOverlap.toString)
    c.decontaminateIndexDir.foreach(v =>
      kv += ("decontaminateIndexDir" -> v))
    c.decontaminateIndexVer.foreach(v =>
      kv += ("decontaminateIndexVer" -> v.toString))
    kv += ("repetition" -> c.repetition.toString)
    kv += ("repMaxDupLineFrac" -> c.repMaxDupLineFrac.toString)
    kv += ("repMaxDupLineCharFrac" -> c.repMaxDupLineCharFrac.toString)
    // empty threshold lists (legal while repetition=false) are NOT
    // recorded: "".split(",") is Array("") and a replay's parse would
    // throw — absence round-trips to the base config instead, exactly
    // like every other optional knob
    if (c.repMaxTopNgramCharFrac.nonEmpty)
      kv += ("repMaxTopNgramCharFrac" ->
        c.repMaxTopNgramCharFrac.mkString(","))
    if (c.repMaxDupNgramCharFrac.nonEmpty)
      kv += ("repMaxDupNgramCharFrac" ->
        c.repMaxDupNgramCharFrac.mkString(","))
    kv += ("dsir" -> c.dsir.toString)
    kv += ("dsirDeterministic" -> c.dsirDeterministic.toString)
    c.driftWarnKs.foreach(v => kv += ("driftWarnKs" -> v.toString))
    c.driftAbortKs.foreach(v => kv += ("driftAbortKs" -> v.toString))
    kv.map { case (k, v) => s"$k=$v" }.mkString("\n")
  }

  /** Parse a journal-row gate record back into the knobs of record.
    * Unknown keys are ignored and absent keys fall back to `base`
    * (records written by older builds parse compatibly) — EXCEPT the
    * Option-valued tier switches, whose absence means the tier was
    * off for that batch. */
  private[graft] def parseGates(base: IngestConfig, s: String): IngestConfig = {
    val m = s.split("\n").iterator
      .map(_.trim).filter(l => l.nonEmpty && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1)
      }
      .toMap
    def opt(k: String) = m.get(k)
    base.copy(
      lang = opt("lang").getOrElse(base.lang),
      minQuality = opt("minQuality").map(_.toDouble).getOrElse(base.minQuality),
      minTokens = opt("minTokens").map(_.toInt).getOrElse(base.minTokens),
      maxTokens = opt("maxTokens").map(_.toInt).getOrElse(base.maxTokens),
      threshold = opt("threshold").map(_.toDouble).getOrElse(base.threshold),
      maxBucket = opt("maxBucket").map(_.toLong).getOrElse(base.maxBucket),
      vecCol = opt("vecCol"),
      vecThreshold = opt("vecThreshold").map(_.toDouble)
        .getOrElse(base.vecThreshold),
      vecMaxBucket = opt("vecMaxBucket").map(_.toLong)
        .getOrElse(base.vecMaxBucket),
      semCol = opt("semCol"),
      semThreshold = opt("semThreshold").map(_.toDouble)
        .getOrElse(base.semThreshold),
      profileStrataCol = opt("profileStrataCol"),
      profileK = opt("profileK").map(_.toInt).getOrElse(base.profileK),
      profileValueCol = opt("profileValueCol"),
      fpCol = opt("fpCol"),
      fpMaxHamming = opt("fpMaxHamming").map(_.toInt)
        .getOrElse(base.fpMaxHamming),
      fpMaxBucket = opt("fpMaxBucket").map(_.toLong)
        .getOrElse(base.fpMaxBucket),
      // absent = the record predates the tier OR the batch ran
      // without it: off either way
      boilerplate = opt("boilerplate").exists(_.toBoolean),
      boilerplateWidth = opt("boilerplateWidth").map(_.toInt)
        .getOrElse(base.boilerplateWidth),
      decontaminateDir = opt("decontaminateDir"),
      decontaminateWidth = opt("decontaminateWidth").map(_.toInt)
        .getOrElse(base.decontaminateWidth),
      decontaminateMinOverlap = opt("decontaminateMinOverlap").map(_.toLong)
        .getOrElse(base.decontaminateMinOverlap),
      decontaminateIndexDir = opt("decontaminateIndexDir"),
      decontaminateIndexVer = opt("decontaminateIndexVer").map(_.toLong),
      // absent = the record predates the tier: off (the batch ran
      // without it), matching the boilerplate convention
      repetition = opt("repetition").exists(_.toBoolean),
      repMaxDupLineFrac = opt("repMaxDupLineFrac").map(_.toDouble)
        .getOrElse(base.repMaxDupLineFrac),
      repMaxDupLineCharFrac = opt("repMaxDupLineCharFrac").map(_.toDouble)
        .getOrElse(base.repMaxDupLineCharFrac),
      // filter(_.nonEmpty) tolerates records older builds wrote with
      // an empty list ("" splits to Array("")) — parse to Nil, not NFE
      repMaxTopNgramCharFrac = opt("repMaxTopNgramCharFrac")
        .map(_.split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))
        .getOrElse(base.repMaxTopNgramCharFrac),
      repMaxDupNgramCharFrac = opt("repMaxDupNgramCharFrac")
        .map(_.split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))
        .getOrElse(base.repMaxDupNgramCharFrac),
      dsir = opt("dsir").exists(_.toBoolean),
      dsirDeterministic = opt("dsirDeterministic").map(_.toBoolean)
        .getOrElse(base.dsirDeterministic),
      driftWarnKs = opt("driftWarnKs").map(_.toDouble),
      driftAbortKs = opt("driftAbortKs").map(_.toDouble))
  }
}
