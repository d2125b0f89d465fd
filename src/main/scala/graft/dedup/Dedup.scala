package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines, each designed
  * for the 100 TB shape of the problem:
  *
  *   - exact: hash-groupBy on a normalized fingerprint — one shuffle
  *     keyed by a 128-bit hash, no skew (hash keys are uniform).
  *   - MinHash + LSH: shingle → K independent min-hashes → band →
  *     bucket self-join. The join is on band keys, so candidate
  *     generation never goes quadratic; only same-bucket pairs get the
  *     exact Jaccard verification. This is the classic
  *     Broder/LSH construction (Mining of Massive Datasets ch.3).
  *   - SimHash: 32-bit per-token majority vote; near-dups share a
  *     fingerprint (or a bucket on the high bits at scale).
  *   - n-gram Jaccard: inverted-index join on shingles with
  *     count-sharing — exact, for modest candidate sets.
  *
  * Hash functions are built from `md5` hex strings so the DuckDB
  * oracle can recompute them verbatim: a fixed-width lowercase-hex
  * string compares lexicographically exactly like its numeric value,
  * so `min(substr(md5(...),1,16))` is a valid minhash in both engines
  * with zero custom code. (At production scale you'd swap in xxhash64
  * — same plan shape, cheaper hash.)
  */
object Dedup {

  /** Word-level w-shingles of the normalized text. */
  def shingles(text: Column, w: Int = 3): Column = {
    // w <= 0 would make every document's shingle set [""] — identical
    // signatures, every pair verifying at jaccard 1.0, and the whole
    // corpus silently collapsing into one duplicate cluster
    require(w > 0, s"shingle width must be > 0 (got $w)")
    val toks = TextFunctions.tokens(text)
    val n = size(toks)
    // positions 1..n-w+1 (slice is 1-based); degenerate docs (<w
    // tokens) contribute their full token string as a single shingle
    // so they can still be compared.
    when(
      n >= w,
      array_distinct(
        transform(
          sequence(lit(1), n - lit(w - 1)),
          i => concat_ws(" ", slice(toks, i, lit(w)))
        )
      )
    ).otherwise(array(concat_ws(" ", toks)))
  }

  /** Native one-pass shingling ([[graft.functions.WordShingles]]) —
    * exactly equivalent to [[shingles]] (asserted in ShingleExprSpec)
    * without the per-position slice allocations; used by the dedup
    * entry points below. */
  private[graft] def shinglesNative(
      df: DataFrame,
      text: Column,
      w: Int
  ): Column = {
    // same guard as [[shingles]]: w <= 0 collapses every shingle set
    // to [""] and the whole corpus into one duplicate cluster
    require(w > 0, s"shingle width must be > 0 (got $w)")
    graft.functions.ShingleExpr.register(df.sparkSession)
    call_function("word_shingles", text, lit(w))
  }

  /** Exact duplicate groups: normalized-md5 fingerprint → group.
    * Returns (fingerprint, n_docs, canonical_id = min id). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("canonical_id")
      )

  /** Rows that survive exact dedup (the canonical doc per group). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val groups = exactGroups(df, textCol, idCol)
      .select(col("canonical_id").as(idCol))
    // broadcast-friendly: the group table is |distinct| <= |docs|;
    // semi join keeps only canonical rows.
    df.join(groups, Seq(idCol), "left_semi")
  }

  /** The persistable EXACT-dedup index: one normalized-md5
    * `fingerprint` per distinct corpus content (~16 bytes a doc on
    * disk). The exact tier's twin of [[lshBandIndex]]: write once per
    * corpus, and every ingest batch drops its exact dups via
    * [[incrementalExactDedup]] without touching corpus text again. */
  def fingerprintIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .distinct()

  /** INCREMENTAL exact dedup: batch survivors after dropping (a) docs
    * whose normalized fingerprint exists in the standing corpus's
    * [[fingerprintIndex]] — the corpus copy always wins — and (b)
    * non-canonical members of within-batch groups (min id wins, as in
    * [[exactDedup]]). Runs the EXACT tier of an ingest pipeline before
    * [[incrementalLshPairs]] handles the near-dups.
    *
    * Plan shape at 100 TB: one batch-keyed groupBy for within-batch
    * canon, then one anti-join of the batch's distinct fingerprints
    * against the index — batch-side keys are a tiny fraction of the
    * index, so AQE broadcasts them and the index streams by without a
    * shuffle; nothing corpus-sized moves. */
  def incrementalExactDedup(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      corpusFingerprints: DataFrame
  ): DataFrame = {
    val withFp = newDocs
      .withColumn("_fp", TextFunctions.fingerprint(col(textCol)))
    // the canon side derives from withFp, so its columns are RENAMED
    // before the self-join — dataframe-apply disambiguation resolves
    // both sides of `withFp("_fp") === canon("_fp")` to the SAME
    // attribute on a self-join lineage (Spark warns "trivially true")
    val canon = withFp
      .groupBy(col("_fp"))
      .agg(min(col(idCol)).as("_canon_id"))
      .join(corpusFingerprints
          .select(col("fingerprint").as("_fp")),
        Seq("_fp"), "left_anti")
      .withColumnRenamed("_fp", "_canon_fp")
    withFp
      .join(canon,
        col("_fp") === col("_canon_fp") &&
          col(idCol) === col("_canon_id"),
        "left_semi")
      .drop("_fp")
  }

  /** Mersenne modulus for the universal-hash family (2^61 - 1). */
  val HashP: Long = 2305843009213693951L

  /** Deterministic multiplier/offset for hash function k, both < 2^31
    * so `a*x + b` with a 32-bit `x` stays below 2^63 — the arithmetic
    * is exact in any engine with 64-bit integers (the DuckDB oracle
    * inlines the same constants; overflow would ERROR there, not wrap,
    * so staying in-range is load-bearing). */
  def hashParams(k: Int): (Long, Long) = {
    def mix(i: Long): Long = {
      var z = i * 0x9e3779b97f4a7c15L
      z ^= (z >>> 31)
      z & 0x7fffffffL
    }
    (mix(2L * k + 1) | 1L, mix(2L * k + 2))
  }

  /** Per-doc MinHash signature: array of `numHashes` 61-bit minima.
    *
    * Hashing: ONE base hash per shingle (md5 prefix when
    * `portableHash`, xxhash64 otherwise), then `numHashes` derived
    * hashes `(a_k * x + b_k) mod (2^61-1)` — the classic universal
    * family (Broder, "On the resemblance and containment of
    * documents"). K minima cost K fused multiply-mods per shingle, not
    * K cryptographic hashes; the md5 variant is bit-for-bit
    * recomputable by the DuckDB oracle.
    *
    * Shape (round 14): ONE narrow native expression per row
    * ([[graft.functions.MinHashSignature]]) — no shingle explode, no
    * doc-keyed shuffle; signatures stream at scan speed and the first
    * exchange of an LSH pipeline is its band-bucket join. Emits one
    * row per INPUT row (ids are document ids — a frame with duplicate
    * ids gets duplicate signature rows, where the old grouped form
    * silently merged them into one cross-text min; dedup ids upstream
    * if they can repeat). Null-text rows are dropped, exactly as the
    * composed form's explode dropped them. */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      shingleWidth: Int = 3,
      portableHash: Boolean = true
  ): DataFrame = {
    // NARROW native path (round 14): the whole signature is one
    // per-row expression — no explode, no doc-keyed shuffle (the
    // composed twin below documents the algebra and pins equivalence
    // in ShingleExprSpec). Null-text rows are dropped, exactly as the
    // composed form's explode dropped them.
    require(numHashes > 0, s"numHashes must be > 0 (got $numHashes)")
    require(shingleWidth > 0,
      s"shingle width must be > 0 (got $shingleWidth)")
    graft.functions.MinHashExpr.register(df.sparkSession)
    df.where(col(textCol).isNotNull)
      .select(
        col(idCol),
        call_function("minhash_signature", col(textCol),
          lit(shingleWidth), lit(numHashes), lit(portableHash))
          .as("signature"))
  }

  /** The composed (explode + K min-aggs) signature pipeline the native
    * expression replaces — kept as the EXECUTABLE SPECIFICATION of the
    * signature algebra: ShingleExprSpec asserts the two produce
    * identical arrays over the edge-case matrix, so the narrow path
    * can never drift from the oracle-checkable form. */
  private[graft] def minhashSignaturesComposed(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      shingleWidth: Int = 3,
      portableHash: Boolean = true
  ): DataFrame = {
    val sh = df.select(
      col(idCol),
      explode(shinglesNative(df, col(textCol), shingleWidth)).as("s")
    )
    // 32-bit base hash per shingle: md5-prefix (oracle-portable) or
    // xxhash64 masked to 32 bits (production: no crypto hash at all)
    val x =
      if (portableHash)
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
      else
        xxhash64(col("s")).bitwiseAND(lit(0xffffffffL))
    val withX = sh.select(col(idCol), x.as("x"))
    val mins = (0 until numHashes).map { k =>
      val (a, b) = hashParams(k)
      min((lit(a) * col("x") + lit(b)) % lit(HashP)).as(s"h$k")
    }
    withX
      .groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(
        col(idCol),
        array((0 until numHashes).map(k => col(s"h$k")): _*).as("signature")
      )
  }

  /** The banded LSH keys `(idCol, band, bucket)` for a corpus — the
    * factored-out candidate-key stage of [[minhashLshPairs]], exposed
    * because these keys ARE the persistable dedup INDEX: write them
    * once per corpus (partitioned by `band`, ~50 bytes/row — a tiny
    * fraction of the text), and each new ingest batch probes them via
    * [[incrementalLshPairs]] instead of re-running LSH over the whole
    * corpus. Band key = md5 over the band's signature slice
    * (oracle-portable) or xxhash64 (production).
    *
    * INVARIANT across the persist/probe boundary: a probe is only
    * meaningful against an index built with the SAME `numHashes`,
    * `bands`, `shingleWidth` and `portableHash` — different parameters
    * silently produce disjoint band keys (missing pairs), not an
    * error. Callers persisting the raw frame own that bookkeeping;
    * [[DedupIndex]] is the managed alternative that records the
    * parameters next to the index and refuses a mismatched open. */
  def lshBandIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleWidth: Int = 3,
      portableHash: Boolean = true
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigs =
      minhashSignatures(df, textCol, idCol, numHashes, shingleWidth, portableHash)
    // band key = hash over the band's slice of the signature
    sigs.select(
      col(idCol),
      posexplode(
        array((0 until bands).map { b =>
          val bandSlice =
            slice(col("signature"), b * rowsPerBand + 1, rowsPerBand)
          if (portableHash) md5(concat_ws(",", bandSlice)).cast("string")
          else xxhash64(bandSlice).cast("string")
        }: _*)
      ).as(Seq("band", "bucket"))
    )
  }

  /** LSH banding: docs sharing any band bucket become candidate pairs;
    * candidates are verified with exact shingle Jaccard. Returns
    * (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * Scale: the expensive operation is a self-join on (band, bucket)
    * keys — linear in docs per bucket, never all-pairs. Hot buckets
    * (boilerplate docs) are the skew risk; AQE skew-join handles
    * moderate cases, and a bucket-cardinality cap (salting or dropping
    * mega-buckets, which are near-certain duplicates anyway) the rest.
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleWidth: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Long = 10000L,
      portableHash: Boolean = true
  ): DataFrame = {
    // ONE explicit exchange on the join keys right after the narrow
    // signature stage: the banded table feeds three branches (bucket
    // counts + both self-join sides), and when the signature stage
    // ended in an AGGREGATE its shuffle was the natural reuse point —
    // ReuseExchange computed the shingle→minhash map side once for
    // every consumer. The round-14 narrow signature expression removed
    // that exchange, which silently made each branch RE-EVALUATE the
    // whole signature scan (measured at the 2 M-doc probe: full-corpus
    // pairing 27 → 50 s). This repartition restores the single
    // computation — the groupBy(band, bucket) and the equi-join reuse
    // its hashpartitioning, so it adds NO extra shuffle over the old
    // aggregate shape, and single-consumer paths (index builds) keep
    // the exchange-free narrow plan. No manual persist: shuffle files,
    // not cache residency (the round-2/3 bench instability was
    // persist-related).
    val banded = lshBandIndex(
      df, textCol, idCol, numHashes, bands, shingleWidth, portableHash)
      .repartition(col("band"), col("bucket"))
    // Mega-buckets (boilerplate shared by > maxBucket docs) would make
    // the self-join quadratic in ONE reducer — drop them up front
    // (they're near-certain duplicate clusters; collapse them by
    // fingerprint out of band instead of pairwise-verifying).
    val (within, _) =
      graft.query.Skew.capBuckets(banded, Seq("band", "bucket"), maxBucket)
    val l = within.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val r = within.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    val candidates = l
      .join(r, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    verifyJaccard(df, textCol, idCol, candidates, shingleWidth, threshold,
      portableHash = portableHash)
  }

  /** INCREMENTAL near-dup pairing: dedup a NEW ingest batch against a
    * corpus whose [[lshBandIndex]] was persisted earlier, without ever
    * pairing the corpus against itself. This is the steady-state shape
    * of a 100 TB training-data pipeline — the corpus is deduped once,
    * and each day's crawl only needs (a) its own within-batch pairs
    * and (b) its pairs against the standing corpus; re-running
    * [[minhashLshPairs]] over corpus+batch would redo the corpus²
    * work every ingest.
    *
    * Plan shape: the batch is banded (one shingle→minhash pass over
    * the BATCH only); its distinct `(band, bucket)` keys — small by
    * construction, ≤ bands×|batch| — are BROADCAST to semi-probe the
    * corpus index, so the index is filtered where it lives with no
    * corpus-side shuffle and nothing corpus-sized ever moves.
    * Candidates are batch×(batch ∪ probed-corpus) — linear in batch
    * size × bucket occupancy, never corpus×corpus. The mega-bucket
    * cap counts the COMBINED population (probed corpus members + new
    * members), so a bucket is dropped exactly when the equivalent
    * batch run over corpus+new would drop it: the output equals
    * [[minhashLshPairs]] over the union MINUS its corpus-corpus
    * pairs (the spec pins this identity), and the capped side
    * surfaces through the Diag variant like [[hammingPairsDiag]].
    *
    * `newDocs` ids must be disjoint from the corpus ids (an id on
    * both sides would pair with itself); `corpusTexts` is the
    * `(idCol, textCol)` fetch side for exact-Jaccard verification.
    * The candidate frame is materialized eagerly (localCheckpoint,
    * like [[verifyJaccard]]'s gate) and its distinct ids — bounded by
    * 2× the batch-linear pair count — prune the corpus text scan in
    * three tiers: a pushed IN literal while the set is small
    * (row-group skipping over an id-sorted corpus; literal planning
    * cost is linear in n, so the tier is capped at `maxInLiteralIds`),
    * a broadcast semi-join of the candidate-id frame up to
    * `maxPushedFetchIds` (O(1) plan, zero shuffle — measured 6.5×
    * faster than the 100k-literal IN, whose pushed form degrades to a
    * no-op min/max range filter anyway), and above the gate an
    * id-envelope-fenced scan — one columnar pass, never a shuffle,
    * with a pushed BETWEEN over the candidates' id range so an
    * id-sorted corpus layout regains row-group pruning.
    * Returns `(pairs, capped)`: pairs as in [[minhashLshPairs]]
    * (`id_a < id_b`, jaccard >= threshold, at least one side new). */
  def incrementalLshPairsDiag(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      corpusBands: DataFrame,
      corpusTexts: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleWidth: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Long = 10000L,
      portableHash: Boolean = true,
      maxPushedFetchIds: Long = 100000L,
      maxBroadcastProbeKeys: Long = 4000000L,
      maxInLiteralIds: Long = 1000L
  ): (DataFrame, DataFrame) = {
    // The batch is banded ONCE and materialized (executor-local
    // blocks): the probe keys, the tagged union and — on the
    // DedupIndex path — the index append all reuse it without
    // re-running shingle→minhash over the batch.
    val newBands = lshBandIndex(
      newDocs, textCol, idCol, numHashes, bands, shingleWidth, portableHash)
      .localCheckpoint(true)
    incrementalFromBands(newBands,
      newDocs.select(col(idCol), col(textCol)), textCol, idCol,
      corpusBands, corpusTexts, shingleWidth, threshold, maxBucket,
      maxPushedFetchIds, maxBroadcastProbeKeys, maxInLiteralIds,
      portableHash)
  }

  /** The probe/verify core of [[incrementalLshPairsDiag]], over an
    * ALREADY-banded, already-materialized batch (`newBands` must be a
    * localCheckpointed `(idCol, band, bucket)` frame — it is counted
    * and fanned into several branches here). Exposed package-private
    * so [[DedupIndex.ingest]] can band the batch once and reuse the
    * same frame for its index append. */
  private[graft] def incrementalFromBands(
      newBands: DataFrame,
      newTexts: DataFrame,
      textCol: String,
      idCol: String,
      corpusBands: DataFrame,
      corpusTexts: DataFrame,
      shingleWidth: Int,
      threshold: Double,
      maxBucket: Long,
      maxPushedFetchIds: Long,
      maxBroadcastProbeKeys: Long,
      maxInLiteralIds: Long = 1000L,
      portableHash: Boolean = true,
      minProbeExchangeRows: Long = 50000L
  ): (DataFrame, DataFrame) = {
    // Distinct probe keys are bounded by bands × |batch| — broadcast
    // them so the corpus index is semi-joined in place (no shuffle of
    // the index, no corpus-sized movement at any point). The
    // broadcast is COUNT-GATED like [[verifyJaccard]]'s build side:
    // the bound is the batch's band-row count (one count over the
    // materialized frame, distinct keys can only be fewer), and an
    // over-gate batch — a crawl of 10^8 docs would put the key set
    // past Spark's broadcast/driver limits — degrades to a shuffled
    // semi-join instead of hard-failing the driver.
    val nBandRows = newBands.count()
    val probe = newBands.select("band", "bucket").distinct()
    val probeSide =
      if (nBandRows <= maxBroadcastProbeKeys) broadcast(probe) else probe
    // Count-gated reuse exchange above the probe: the tagged frame
    // below has four consumers (cap counts + cap semi-join + both
    // pair-join sides), and without a reuse point each re-runs this
    // corpus-index semi-join — three extra scans of a 10^8-row
    // standing index per ingest (the minhashLshPairs shared-exchange
    // lesson). ReuseExchange serves every consumer from one
    // BATCH-BOUND shuffle (only buckets the batch touches survive the
    // semi-join). The gate uses the already-counted batch band rows —
    // the probe reach is bucket-correlated with them: a SMALL batch
    // probes few buckets, so re-probing per consumer is cheaper than
    // a dedicated shuffle stage (measured at the sf0.1 bench: the
    // unconditional exchange cost ~0.5 s of fixed stage overhead on a
    // 5 k-doc batch), while a crawl-sized batch amortizes it (2 M-doc
    // probe: 10.1 s → 5.2 s vs the round-11 record).
    val probedCorpus0 = corpusBands
      .join(probeSide, Seq("band", "bucket"), "left_semi")
    val probedCorpus =
      if (nBandRows > minProbeExchangeRows)
        probedCorpus0.repartition(col("band"), col("bucket"))
      else probedCorpus0
    val tagged = newBands
      .select(col(idCol).as("_id"), col("band"), col("bucket"),
        lit(true).as("_new"))
      .unionByName(probedCorpus
        .select(col(idCol).as("_id"), col("band"), col("bucket"),
          lit(false).as("_new")))
    // Cap on the combined probed-bucket population: identical drop
    // decision to a batch run over corpus+new (unprobed buckets hold
    // no new docs, so they can't contribute a pair touching the batch).
    val (kept, capped) =
      graft.query.Skew.capBuckets(tagged, Seq("band", "bucket"), maxBucket)
    val newSide = kept.where(col("_new"))
      .select(col("_id").as("id_x"), col("band"), col("bucket"))
    val allSide = kept
      .select(col("_id").as("id_y"), col("band"), col("bucket"))
    // batch × (batch ∪ corpus) within shared buckets — corpus rows
    // appear only on the right, so corpus×corpus pairs are never
    // generated, not generated-then-filtered.
    val candidates = newSide
      .join(allSide, Seq("band", "bucket"))
      .where(col("id_x") =!= col("id_y"))
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
      // materialized once here (executor-local blocks): the candidate
      // ids below and verifyJaccard's gate count + joins all reuse it
      // without re-running band/probe/cap
      .localCheckpoint(true)
    // The verify stage needs corpus texts for CANDIDATE ids only — a
    // vanishing fraction of the corpus. When the distinct candidate
    // id set is modest (it is bounded by 2× the candidate pairs, and
    // pairs are batch-linear by construction), collect it and push an
    // IN filter into the corpus text scan: at warehouse scale that is
    // row-group skipping over the id-sorted corpus instead of a full
    // decode of every text per ingest. Batch ids in the list simply
    // match nothing on the corpus side (ids are disjoint). Above the
    // gate, fall back to the full scan — a one-pass columnar read,
    // never a shuffle.
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("_cid"))
      .distinct()
    // ONE gate job, not count-then-collect: fetch up to gate+1 ids
    // from the checkpointed candidate blocks; an overflow row means
    // "too many — full scan", otherwise the gathered set IS the list
    val probeLimit =
      math.min(maxPushedFetchIds + 1, Int.MaxValue.toLong).toInt
    val gathered = candIds.limit(probeLimit).collect()
    // `gathered` is TRUNCATED when it hit the probe limit — it is
    // only the complete candidate-id set below the gate. The tier
    // tests below must check overflow FIRST: with a small
    // maxPushedFetchIds (< maxInLiteralIds) a truncated gather would
    // otherwise slip into the IN-literal tier with an incomplete id
    // list and silently drop candidate texts (caught by a
    // pushed-vs-forced answer check; BASELINE.md, "Candidate-fetch
    // top tier probed").
    val overflow = gathered.length > maxPushedFetchIds
    // Three-tier text fetch, gates set from the round-10 IN-literal
    // gate probe (BASELINE.md; 100 k-row corpus, local[32]): a pushed
    // IN literal costs
    // planning LINEAR in n (n=10k: 0.12 s plan / 0.40 s exec; n=100k:
    // 1.24 s / 2.99 s) and past spark's parquet inFilterThreshold the
    // pushed predicate degrades to a min/max RANGE filter — which
    // prunes nothing when candidate ids spread across the corpus — so
    // literals only earn their keep while the set is small. The
    // middle tier broadcast-semi-joins the (already checkpointed)
    // candidate-id frame instead: O(1) plan size, zero shuffle,
    // n=100k exec 0.46 s vs 2.99 s. Above the fetch gate: full scan,
    // one columnar pass.
    val prunedCorpusTexts =
      if (!overflow && gathered.length <= maxInLiteralIds)
        corpusTexts.where(col(idCol).isin(gathered.map(_.get(0)): _*))
      else if (!overflow)
        corpusTexts.join(
          broadcast(candIds.select(col("_cid").as(idCol))),
          Seq(idCol), "left_semi")
      else {
        // top tier (candidate set past the broadcast gate): still one
        // columnar pass, but FENCED to the candidates' id envelope —
        // one tiny agg over the already-materialized candidate ids
        // buys a pushed BETWEEN, which regains row-group pruning over
        // an id-sorted corpus layout (the daemon seen store's compact
        // order) whenever the candidate set is id-clustered (the
        // steady-state shape: near-dups concentrate in recent ids).
        // Spread candidates degrade to the old full pass plus a
        // footer min/max check per row group — both slopes are in
        // BASELINE.md, "Candidate-fetch top tier probed".
        val env = candIds.agg(min(col("_cid")), max(col("_cid")))
          .collect().head
        corpusTexts.where(
          col(idCol).between(lit(env.get(0)), lit(env.get(1))))
      }
    val texts = newTexts
      .select(col(idCol), col(textCol))
      .unionByName(prunedCorpusTexts.select(col(idCol), col(textCol)))
    // the candidate frame is already materialized above — hand it to
    // the verify core directly instead of re-checkpointing it
    (verifyJaccardOn(texts, textCol, idCol, candidates, candidates.count(),
      shingleWidth, threshold, defaultMaxBroadcastPairs, portableHash),
      capped)
  }

  /** [[incrementalLshPairsDiag]] without the cap diagnostic — for
    * callers that cap-collapse flooded buckets out of band (see
    * [[fingerprintClusters]] for the enforced alternative pattern). */
  def incrementalLshPairs(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      corpusBands: DataFrame,
      corpusTexts: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleWidth: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Long = 10000L,
      portableHash: Boolean = true,
      maxPushedFetchIds: Long = 100000L,
      maxBroadcastProbeKeys: Long = 4000000L,
      maxInLiteralIds: Long = 1000L
  ): DataFrame =
    incrementalLshPairsDiag(newDocs, textCol, idCol, corpusBands,
      corpusTexts, numHashes, bands, shingleWidth, threshold, maxBucket,
      portableHash, maxPushedFetchIds, maxBroadcastProbeKeys,
      maxInLiteralIds)._1

  /** Exact n-gram Jaccard over candidate pairs, as a pair join: fetch
    * both documents' texts (or, with `portableHash = false`, their
    * per-doc xxhash64 shingle-hash arrays — see [[verifyJaccardOn]]),
    * then compute `|A∩B| / (|A|+|B|-|A∩B|)`
    * natively with `array_intersect` over the two shingle arrays.
    * Only the SLIM (id_a, id_b) candidate frame is unconditionally
    * broadcast-hinted — it is small by LSH construction. The second
    * join attaches full texts, so its build side is data-dependent
    * (dup-heavy corpora produce large candidate×text frames): it is
    * broadcast only when the counted candidate set is under
    * `maxBroadcastPairs` (then the whole verify moves zero rows
    * through a shuffle), with a shuffle-join fallback that degrades
    * gracefully instead of hard-failing the driver at scale.
    * Verification cost is proportional to the candidate set; the
    * corpus is only scanned (twice, once per side — at warehouse
    * scale you'd materialize the candidate texts instead of
    * rescanning).
    *
    * This replaces the round-2 inverted-index verify (explode +
    * 2 joins + 2 aggregations): same exact Jaccard, a fraction of the
    * stages; the only materialization is the slim candidate pair
    * frame (ids + band keys), checkpointed once for both the gate
    * count and the join. */
  def verifyJaccard(
      df: DataFrame,
      textCol: String,
      idCol: String,
      candidates: DataFrame,
      shingleWidth: Int,
      threshold: Double,
      maxBroadcastPairs: Long = defaultMaxBroadcastPairs,
      portableHash: Boolean = true
  ): DataFrame = {
    // Count-gated broadcast for the text-attachment join: the slim
    // candidate frame is always broadcast, but candidate×text is
    // data-dependent — broadcast it only while the COUNTED pair set
    // is modest, else fall back to a shuffle join that degrades
    // gracefully instead of hard-failing the driver. The broadcast
    // path matters doubly on shuffle-hostile storage: it moves ZERO
    // rows over disk. The slim frame is materialized ONCE (eager
    // localCheckpoint — executor-local blocks, lineage truncated)
    // so the gate count does not re-run the whole candidate pipeline
    // (minhash + banding + self-join) a second time for the join;
    // probe data put that re-run at ~40% of verify cost. Blocks are
    // freed by the ContextCleaner with the plan.
    val slim = candidates.localCheckpoint(true)
    verifyJaccardOn(df, textCol, idCol, slim, slim.count(),
      shingleWidth, threshold, maxBroadcastPairs, portableHash)
  }

  /** Default gate for [[verifyJaccard]]'s candidate×text broadcast. */
  val defaultMaxBroadcastPairs: Long = 1000000L

  /** [[verifyJaccard]]'s join/verify core over an ALREADY-materialized
    * candidate frame (`slim` must be localCheckpointed and `nPairs` its
    * count) — callers that checkpointed the candidates for their own
    * gates ([[incrementalFromBands]]) enter here so the same slim
    * frame is never materialized twice per run. */
  private[graft] def verifyJaccardOn(
      df: DataFrame,
      textCol: String,
      idCol: String,
      slim: DataFrame,
      nPairs: Long,
      shingleWidth: Int,
      threshold: Double,
      maxBroadcastPairs: Long,
      portableHash: Boolean = true
  ): DataFrame = {
    // the count gate covers BOTH joins: above it, broadcasting the
    // candidate frame itself (not just the text-joined side) would
    // collect every pair row to the driver — the exact OOM the gate
    // exists to prevent
    val fits = nPairs <= maxBroadcastPairs
    // Two per-side representations, one knob with [[minhashSignatures]]:
    //  - portable (default): sides carry TEXT; shingles are computed
    //    POST-join (per pair, 2k evals for a doc in k pairs). Bytes in
    //    the build side are the scarce resource, and attaching shingle
    //    STRING arrays would triple them (a string shingle array is
    //    ~3× its text) — recomputing per pair trades cheap distributed
    //    CPU for that. This is the DuckDB-recomputable config.
    //  - production (portableHash = false): sides carry per-doc
    //    xxhash64 SHINGLE-HASH arrays — ~8 bytes per shingle (~1.3×
    //    the text bytes, nowhere near the string arrays' 3×), shingled
    //    ONCE per CANDIDATE doc instead of once per pair, and the
    //    per-pair intersection runs over longs instead of re-shingling
    //    and hashing strings. The semi-join to the candidate ids comes
    //    BEFORE the hash walk: in the sparse-dup regime (the real
    //    100 TB shape — most docs pair with nothing) hashing every
    //    corpus doc costs more than all the per-pair work it saves
    //    (measured at the 2 M-doc probe: pre-gating recovered the
    //    full_rerun arm from 47 s to the 27 s family). Jaccard over
    //    the hash sets equals jaccard over the shingle sets up to
    //    64-bit collisions (~n²/2^65 within one doc — unobservable;
    //    output equality across both configs on identical candidates
    //    is spec-pinned).
    // Production sides share ONE materialized hashed frame: the text
    // source is semi-joined to the union of candidate ids, hash-
    // walked once, and checkpointed — evaluating each side separately
    // re-ran the text fetch AND the shingle-hash walk twice (the r20
    // plan audit: two corpus-text scans per verify). Bounded by the
    // distinct candidate ids, like the per-side semi-joins it fuses.
    val hashedOnce: Option[DataFrame] =
      if (portableHash) None
      else {
        val ids = slim
          .select(explode(array(col("id_a"), col("id_b"))).as("_vid"))
          .distinct()
        Some(df
          .select(col(idCol).as("_vid"), col(textCol).as("_t"))
          .join(if (fits) broadcast(ids) else ids, Seq("_vid"), "left_semi")
          .select(col("_vid"),
            graft.functions.ShingleHashes
              .column(col("_t"), shingleWidth).as("_sh"))
          .localCheckpoint(true))
      }
    def side(sfx: String): DataFrame = hashedOnce match {
      case Some(h) =>
        h.select(col("_vid").as(s"id_$sfx"), col("_sh").as(s"_sh_$sfx"))
      case None =>
        df.select(col(idCol).as(s"id_$sfx"), col(textCol).as(s"_text_$sfx"))
    }
    val a = side("a")
    val b = side("b")
    val withA = a.join(if (fits) broadcast(slim) else slim, Seq("id_a"))
    val pairs =
      if (fits) b.join(broadcast(withA), Seq("id_b"))
      else b.join(withA, Seq("id_b"))
    val sa =
      if (portableHash) shinglesNative(df, col("_text_a"), shingleWidth)
      else col("_sh_a")
    val sb =
      if (portableHash) shinglesNative(df, col("_text_b"), shingleWidth)
      else col("_sh_b")
    pairs
      .withColumn("_inter", size(array_intersect(sa, sb)))
      .withColumn("_na", size(sa))
      .withColumn("_nb", size(sb))
      .withColumn(
        "jaccard",
        round(
          col("_inter").cast("double") /
            (col("_na") + col("_nb") - col("_inter")),
          6
        )
      )
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** All near-duplicate pairs by exact n-gram Jaccard — the
    * no-approximation baseline. Candidate pairs come from the shingle
    * inverted index itself (docs sharing >=1 shingle), so complexity
    * is sum over shingles of (docs-per-shingle choose 2); fine for
    * verification scale, superseded by LSH at corpus scale. */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleWidth: Int = 3,
      threshold: Double = 0.5
  ): DataFrame = {
    // Set sizes come from size(array) — a NARROW per-row expression,
    // no explode/groupBy round trip. The exploded inverted index is
    // then needed only for the intersection join; re-shingling per
    // join side (2×) costs CPU linear in the corpus, which at scale
    // beats holding the multi-TB exploded index in cache — so this
    // operator, like the LSH path, carries no mid-query persists.
    val sizes = df.select(
      col(idCol).as("id"),
      size(shinglesNative(df, col(textCol), shingleWidth)).as("n")
    )
    val sh = df.select(
      col(idCol).as("id"),
      explode(shinglesNative(df, col(textCol), shingleWidth)).as("shingle")
    )
    val pairs = sh
      .select(col("id").as("id_a"), col("shingle"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn(
        "jaccard",
        round(
          col("inter").cast("double") /
            (col("n_a") + col("n_b") - col("inter")),
          6
        )
      )
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** DIRECTED n-gram containment pairs: C(a→b) = |S(a) ∩ S(b)| /
    * |S(a)| over the shingle sets — the asymmetric twin of
    * [[ngramJaccardPairs]]. Symmetric jaccard MISSES the
    * quote/superset relation a curation pipeline cares about: a short
    * document quoted whole inside a long one has jaccard ≈ |short| /
    * |long| (tiny) but containment(short→long) ≈ 1. Emits one row per
    * DIRECTION at or above `threshold` (`id_a`'s grams inside
    * `id_b`), 6-dp rounded like every cross-engine score here.
    *
    * Plan shape: identical to the jaccard operator — narrow set
    * sizes, one self-join on the exploded gram index keyed by the
    * gram, one count aggregate; both directions derive from the SAME
    * unordered-pair intersection count, so the asymmetry costs
    * nothing extra. The LSH-candidate composition applies unchanged
    * when all-pairs is too big: band first, contain-verify after. */
  def ngramContainmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleWidth: Int = 3,
      threshold: Double = 0.8
  ): DataFrame = {
    val sizes = df.select(
      col(idCol).as("id"),
      size(shinglesNative(df, col(textCol), shingleWidth)).as("n")
    )
    val sh = df.select(
      col(idCol).as("id"),
      explode(shinglesNative(df, col(textCol), shingleWidth)).as("shingle")
    )
    val inter = sh
      .select(col("id").as("id_x"), col("shingle"))
      .join(sh.select(col("id").as("id_y"), col("shingle")), Seq("shingle"))
      .where(col("id_x") < col("id_y"))
      .groupBy("id_x", "id_y")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_x"), col("n").as("n_x")), Seq("id_x"))
      .join(sizes.select(col("id").as("id_y"), col("n").as("n_y")), Seq("id_y"))
      .where(col("n_x") > 0 && col("n_y") > 0)
    // both directions from the one intersection count
    val fwd = inter.select(
      col("id_x").as("id_a"), col("id_y").as("id_b"),
      round(col("inter").cast("double") / col("n_x"), 6).as("containment"))
    val rev = inter.select(
      col("id_y").as("id_a"), col("id_x").as("id_b"),
      round(col("inter").cast("double") / col("n_y"), 6).as("containment"))
    fwd.unionByName(rev).where(col("containment") >= threshold)
  }

  /** Connected components over an undirected pair list — the cluster
    * step every near-dup pipeline runs AFTER pairwise detection (LSH
    * emits pairs; retention policy needs whole clusters: keep one doc
    * per component). Alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC'14): each round every node hooks its neighbors onto the
    * minimum of its closed neighborhood, which at least halves the
    * height of every tree — convergence in O(log n) rounds regardless
    * of component DIAMETER. This replaces round-10's min-label
    * propagation, whose round count was diameter-bound: a near-dup
    * chain deeper than `maxIter` hops (boilerplate-heavy crawls
    * produce these) silently returned SPLIT components. Now the round
    * bound is logarithmic, and exhausting it refuses loudly instead
    * of shipping wrong clusters — the same checkable-consistency
    * discipline as [[fingerprintClusters]]'s cap guard.
    *
    * Scale: runs over the PAIRS graph (≪ corpus; one row per LSH
    * verified pair), each round two shuffles keyed on node id, and
    * the edge set only ever shrinks toward one star per component.
    * Each round's frontier is eagerly localCheckpoint'ed — iterative
    * plans MUST truncate lineage (the GraphX discipline) or round k
    * nests k joins deep and every action recomputes the pipeline.
    *
    * SMALL-GRAPH FAST PATH: a canonical edge set at or below
    * `localThreshold` rows (≈1.6 MB collected at the default 100 k)
    * resolves with a driver-side union-find instead — the iterative
    * distributed loop costs several jobs per ROUND in fixed overhead,
    * which dominates exactly when the pair graph is small (the common
    * case: near-dup pair graphs are a vanishing fraction of the
    * corpus). Both paths produce the identical min-label contract
    * (cross-checked in PipelinePropSpec); `localThreshold = 0` forces
    * the distributed loop.
    *
    * Returns (id, component = min id reachable); a node whose only
    * pair is a self-loop maps to itself. */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 50,
      localThreshold: Long = 100000L
  ): DataFrame = {
    // ids must already be integral: cast("long") maps string ids
    // (UUIDs, "doc-123") to NULL, every edge silently drops, and the
    // caller ships its corpus with all near-duplicates retained —
    // refuse loudly instead (map string ids to dense longs first,
    // e.g. xxhash64 or zipWithUniqueId)
    Seq(idA, idB).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.ShortType ||
        dt == org.apache.spark.sql.types.ByteType,
        s"connectedComponents needs integral ids; column $c is $dt " +
          "(string ids cast to NULL and clustering would silently no-op)")
    }
    val raw = pairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
    // Contract: every node mentioned in `pairs` appears in the output,
    // including self-loop-only nodes, so canonicalization KEEPS
    // self-loops as (u, u) rows — one materialization carries both
    // the edge set and the node set. ONE gate job, not
    // count-then-collect (the gathered-gate discipline): fetch up to
    // threshold+1 canonical rows from the checkpointed blocks; an
    // overflow row means "too big — distributed star contraction",
    // otherwise the gathered set IS the graph and the labels come
    // back as a driver-local relation (zero further jobs, and the
    // caller's downstream joins auto-broadcast it). The old shape ran
    // four jobs before the union-find even started (nodes checkpoint,
    // edges checkpoint, count, collect) plus a distributed
    // nodes×labels join after it.
    val canon = raw
      .select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)
    val gateLimit =
      math.min(localThreshold + 1, Int.MaxValue.toLong).toInt
    val gathered = canon.limit(gateLimit).collect()
    if (gathered.length <= localThreshold) {
      // driver union-find over the gathered canonical edges; unions
      // attach the larger root under the smaller, so every root is
      // its component minimum — the same label the star state carries
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // ITERATIVE find with two-pass path compression: a recursive
      // find on a threshold-sized adversarially-ordered chain (every
      // union between fresh roots) would recurse O(n) frames and
      // overflow the driver stack. (Deliberately NOT the same
      // implementation as PipelinePropSpec's recursive model — the
      // property test compares both paths against that independent
      // formulation.)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val next = parent(c); parent(c) = r; c = next }
        r
      }
      gathered.foreach { e =>
        val (u, v) = (e.getLong(0), e.getLong(1))
        // find() registers self-loop-only nodes too, so parent's key
        // set is exactly the node set
        val (ra, rb) = (find(u), find(v))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      canon.unpersist(blocking = false) // dead after the gather
      val spark = pairs.sparkSession
      import spark.implicits._
      return parent.keys.toSeq.map(k => (k, find(k)))
        .toDF("id", "component")
    }
    // distributed path: nodes and the initial edge set both derive
    // from the one checkpointed canonical frame (cheap block-local
    // re-evaluation, no second materialization)
    val nodes = canon
      .select(col("u").as("id"))
      .union(canon.select(col("v").as("id")))
      .distinct()
    var edges = canon
      .where(col("u") =!= col("v"))
      .localCheckpoint(true)
    val nEdges = edges.count()
    var converged = nEdges == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // Large-star: every node u hooks its LARGER neighbors onto
      // min(Γ(u) ∪ {u}). Output edges all satisfy u > v.
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val minN = sym.groupBy("u").agg(min("v").as("mv"))
      val ls = sym
        .join(minN, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mv"), col("u")).as("v"))
        .distinct()
        .localCheckpoint(true)
      // Small-star: every node u re-hooks its smaller neighbors (and
      // itself) onto min(N_<(u)). Input/output edges all have u > v.
      val minS = ls.groupBy("u").agg(min("v").as("mv"))
      val ss = ls
        .join(minS, Seq("u"))
        .select(col("v").as("u"), col("mv").as("v"))
        .where(col("u") =!= col("v"))
        .union(minS.select(col("u"), col("mv").as("v")))
        .distinct()
        .localCheckpoint(true)
      // Fixed point = the star state (paper, Thm 1): every edge is
      // (member, component-min). Both sides are distinct canonical
      // sets, so count-equal + empty one-way difference ⟺ set-equal.
      converged = ss.count() == edges.count() && ss.except(edges).isEmpty
      edges.unpersist(blocking = false)
      ls.unpersist(blocking = false)
      edges = ss
      i += 1
    }
    // Loud refusal beats silently split clusters: this fires only on
    // adversarial inputs (alternation converges in O(log n) rounds —
    // ~40 covers any physically storable graph at the default).
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: star contraction did not converge within " +
          s"maxIter=$maxIter rounds — components would be split. Raise " +
          s"maxIter (rounds needed ~ log2(largest component size)).")
    val labels = edges.select(col("u").as("id"), col("v").as("component"))
    val out = nodes
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    out
  }

  /** The ingest-batch drop set given its batch-touching near-dup pair
    * graph: connected components over ALL pairs (corpus and batch
    * nodes together); in a cluster containing any CORPUS doc every
    * batch member drops (the standing corpus always wins — it is
    * already curated); in an all-batch cluster the minimum id
    * survives. Returns one `_dup_id` column.
    *
    * This is the SAME components + min-canonical policy as
    * [[clusterSurvivors]] / `Curation.curateNear`, applied to the
    * incremental shape — unified in round 10: the previous pairwise
    * min-id-partner rule diverged from the components rule on
    * transitive chains (ids c &lt; a &lt; b with pairs (a,b),(b,c):
    * pairwise kept BOTH a and c, components keeps only c), so a
    * rolling ingest could admit docs the equivalent batch
    * `curateNear` run would drop.
    *
    * Scale: components run on the PAIRS graph only (≪ batch); the
    * batch-id tag join is pairs-graph × batch-ids — AQE broadcasts
    * the smaller side. */
  def incrementalDropIds(
      pairs: DataFrame,
      batchIds: DataFrame,
      idCol: String,
      maxIter: Int = 50
  ): DataFrame = {
    val comp = connectedComponents(pairs, maxIter = maxIter)
    val tagged = comp.join(
      batchIds.select(col(idCol).cast("long").as("id"),
        lit(true).as("_new")),
      Seq("id"), "left")
    // per-component corpus presence / min batch id as WINDOW
    // aggregates: one exchange on component (plus its sort) where the
    // old groupBy-then-join-back shape planned the same exchange PLUS
    // a join (a SortMergeJoin whenever size estimates were unknown —
    // the r20 plan audit flagged it on q116)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
    tagged
      .withColumn("_has_corpus",
        max(when(col("_new").isNull, lit(1)).otherwise(lit(0))).over(w))
      .withColumn("_min_new",
        min(when(col("_new").isNotNull, col("id"))).over(w))
      .where(col("_new").isNotNull &&
        (col("_has_corpus") === 1 || col("id") =!= col("_min_new")))
      .select(col("id").as("_dup_id"))
  }

  /** Near-dup retention: drop every clustered doc except its
    * component's canonical (min id); docs in no pair survive
    * untouched. `pairs` comes from [[minhashLshPairs]] /
    * [[embeddingNearDupLsh]]. */
  def clusterSurvivors(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 50
  ): DataFrame = {
    val losers = connectedComponents(pairs, maxIter = maxIter)
      .where(col("component") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** QUALITY-AWARE retention: keep the HIGHEST-SCORING member of each
    * near-dup cluster (ties broken by lowest id) instead of
    * [[clusterSurvivors]]'s min-id rule — the policy real curation
    * pipelines want: when five mirrors of a page survive crawling,
    * keep the cleanest copy, not the one with the smallest id.
    *
    * Scale shape: components run on the PAIRS graph only; the argmax
    * window partitions by component — only clustered docs (a tiny
    * fraction of the corpus) enter the window, the rest pass through
    * an anti-join untouched. */
  def clusterSurvivorsBest(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      scoreCol: String,
      maxIter: Int = 50
  ): DataFrame = {
    val comp = connectedComponents(pairs, maxIter = maxIter)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col("_score").desc, col("id").asc)
    val losers = df
      .select(col(idCol).cast("long").as("id"), col(scoreCol).as("_score"))
      .join(comp, Seq("id")) // clustered docs only
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") > 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** EXACT repeated-span removal (the substring-dedup tier of Lee et
    * al.'s "Deduplicating Training Data Makes Language Models Better",
    * between exact-doc and fuzzy-doc dedup): every token covered by a
    * `width`-gram that occurs at least `minCount` times CORPUS-WIDE is
    * stripped; the doc survives with its unique content. This is what
    * kills boilerplate headers/footers and quoted chunks that
    * doc-level dedup can't touch.
    *
    * Plan shape at 100 TB: gram occurrences are keyed by an md5 gram
    * fingerprint (16 bytes crosses the wire, never the gram text), so
    * counting is ONE map-side-combined shuffle; repeated-gram hits
    * join back on the same key; coverage expansion is a bounded
    * `explode(width)` per hit; the rebuild aggregates per doc. No
    * suffix array, no global sort — the reference construction's
    * O(corpus log corpus) suffix automaton is traded for two keyed
    * shuffles, the standard distributed reformulation.
    *
    * Returns `(id, clean_text, n_removed)` — every input doc exactly
    * once; rebuild order is by token position (sort_array over
    * (pos, token) structs: deterministic). */
  def stripRepeatedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      width: Int = 10,
      minCount: Long = 2,
      maxBroadcastKeys: Long = 1000000L
  ): DataFrame = {
    require(width > 0, s"width must be > 0 (got $width)")
    require(minCount >= 2, s"minCount must be >= 2 (got $minCount)")
    val base = df.select(
      col(idCol).as("id"),
      graft.text.TextFunctions.tokens(col(textCol)).as("_toks"))
      .withColumn("_n",
        when(length(concat_ws("", col("_toks"))) === 0, lit(0))
          .otherwise(size(col("_toks"))))
    // (id, start, gramFingerprint) for every width-gram start
    val grams = base
      .where(col("_n") >= width)
      .select(col("id"), col("_toks"),
        explode(sequence(lit(0), col("_n") - width)).as("start"))
      .select(col("id"), col("start"),
        // span identity = xxhash64 (8-byte key through the count
        // shuffle and hit join, vs a 32-char md5 hex string; "g" never
        // surfaces in output, so results are hash-invariant up to
        // negligible 64-bit collisions)
        xxhash64(concat_ws(" ",
          slice(col("_toks"), col("start") + 1, lit(width)))).as("g"))
    val repeated = grams
      .groupBy("g").agg(count(lit(1)).as("_c"))
      .where(col("_c") >= minCount)
      .select("g")
    // Count-gated narrow rebuild (the dedupLines discipline): while
    // the repeated-gram dictionary is modest, collect it and strip
    // every doc in ONE per-row expression — no token re-explode, no
    // coverage window, no doc-keyed regroup of the corpus. Past the
    // gate, the join leg below degrades gracefully.
    val dict = repeated.localCheckpoint(true)
    if (dict.count() <= maxBroadcastKeys) {
      val ks = dict.collect().map(_.getLong(0))
      val rw = graft.functions.StripSpansRewrite
        .column(col(textCol), Seq(width -> ks))
      // explode(array(...)): evaluate ONCE per row (simhashNative note)
      return df
        .select(col(idCol).as("id"), explode(array(rw)).as("_s"))
        .select(
          col("id").as(idCol),
          coalesce(col("_s.clean_text"), lit("")).as("clean_text"),
          coalesce(col("_s.n_tokens") - col("_s.n_kept"), lit(0L))
            .as("n_removed"))
    }
    stripSpansJoinLeg(df, textCol, idCol, width, dict)
  }

  /** The over-gate join leg shared by [[stripRepeatedSpans]] and
    * [[graft.pipeline.Decontaminate.stripEvalSpans]]: strip every
    * token covered by a width-gram whose xxhash64 key appears in
    * `dict` (one `g` column). Coverage (the union of
    * [start, start+width) intervals) is NOT materialized by
    * exploding width positions per hit + global distinct — on a
    * dup-heavy corpus that's width × hits rows through a shuffle
    * (the 10× probe put it at 150 M). Instead: token p is covered
    * iff ANY hit start lies in [p-width+1, p], which is a per-doc
    * sliding-window max over hit flags — one doc-keyed shuffle, rows
    * never multiply. */
  private[graft] def stripSpansJoinLeg(
      df: DataFrame,
      textCol: String,
      idCol: String,
      width: Int,
      dict: DataFrame
  ): DataFrame = {
    val base = df.select(
      col(idCol).as("id"),
      graft.text.TextFunctions.tokens(col(textCol)).as("_toks"))
      .withColumn("_n",
        when(length(concat_ws("", col("_toks"))) === 0, lit(0))
          .otherwise(size(col("_toks"))))
    val grams = base
      .where(col("_n") >= width)
      .select(col("id"), col("_toks"),
        explode(sequence(lit(0), col("_n") - width)).as("start"))
      .select(col("id"), col("start"),
        xxhash64(concat_ws(" ",
          slice(col("_toks"), col("start") + 1, lit(width)))).as("g"))
    val hits = grams
      .join(dict, Seq("g"))
      .select(col("id"), col("start").as("p"), lit(1).as("_hit"))
    val tokenRows = base
      .where(col("_n") > 0)
      .select(col("id"), posexplode(col("_toks")))
      .select(col("id"), col("pos").as("p"), col("col").as("_tok"))
    val cover = org.apache.spark.sql.expressions.Window
      .partitionBy("id")
      .orderBy("p")
      .rowsBetween(-(width - 1), 0)
    val kept = tokenRows
      .join(hits, Seq("id", "p"), "left")
      .withColumn("_covered", max(col("_hit")).over(cover))
      .where(col("_covered").isNull)
    val rebuilt = kept
      .groupBy("id")
      .agg(
        sort_array(collect_list(struct(col("p"), col("_tok")))).as("_a"),
        count(lit(1)).as("_kept"))
      .select(col("id"),
        concat_ws(" ", expr("transform(_a, x -> x._tok)")).as("clean_text"),
        col("_kept"))
    base
      .join(rebuilt, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("_n") - coalesce(col("_kept"), lit(0L))).as("n_removed"))
  }

  /** [[stripRepeatedSpans]] at SEVERAL (width, minCount) tiers in one
    * pass, coverage masks unioned before the rebuild. The tiers must
    * carry their OWN thresholds to mean anything: at a single
    * minCount the union degenerates to the shortest width — every
    * w'-subgram of a repeated w-gram (w' < w) repeats at least as
    * often, so longer-width coverage is a subset. With per-width
    * thresholds the legs are complementary and express the real
    * curation policy: an AGGRESSIVE count at a short width ("strip
    * 5-grams seen ≥ 100×" — heavy boilerplate only, so moderately
    * quoted phrasing survives) unioned with a PERMISSIVE count at a
    * long width ("strip any repeated 10-gram" — long verbatim quotes
    * are dup content at any multiplicity).
    *
    * Plan shape: gram counting runs once per tier (separate
    * 16-byte-keyed map-side-combined shuffles — unavoidable, each
    * width has its own gram space), but coverage does NOT multiply:
    * every hit (start s, width w) becomes two boundary events
    * (+1 at s, −1 at s+w) and a token is covered iff the RUNNING SUM
    * of events at positions ≤ p is positive — ONE doc-keyed window
    * over the token table regardless of how many tiers ran, and no
    * width× position explode (the naive explode measured 2.4× worse
    * at 10× on a single width; it compounds per tier). Returns
    * `(id, clean_text, n_removed)` like the single-width form. */
  def stripRepeatedSpansMulti(
      df: DataFrame,
      textCol: String,
      idCol: String,
      tiers: Seq[(Int, Long)],
      maxBroadcastKeys: Long = 1000000L
  ): DataFrame = {
    require(tiers.nonEmpty, "tiers must be non-empty")
    require(tiers.forall(_._1 > 0), s"widths must be > 0 (got $tiers)")
    require(tiers.map(_._1).distinct.size == tiers.size,
      s"widths must be distinct (got $tiers)")
    require(tiers.forall(_._2 >= 2), s"minCounts must be >= 2 (got $tiers)")
    val base = df.select(
      col(idCol).as("id"),
      graft.text.TextFunctions.tokens(col(textCol)).as("_toks"))
      .withColumn("_n",
        when(length(concat_ws("", col("_toks"))) === 0, lit(0))
          .otherwise(size(col("_toks"))))
    // per tier: the gram table and its (eagerly materialized)
    // repeated-gram dictionary — both legs below consume these
    val tierGrams = tiers.map { case (width, minCount) =>
      val grams = base
        .where(col("_n") >= width)
        .select(col("id"), col("_toks"),
          explode(sequence(lit(0), col("_n") - width)).as("start"))
        .select(col("id"), col("start"),
          // same 8-byte internal span identity as stripRepeatedSpans
          xxhash64(concat_ws(" ",
            slice(col("_toks"), col("start") + 1, lit(width)))).as("g"))
      val dict = grams
        .groupBy("g").agg(count(lit(1)).as("_c"))
        .where(col("_c") >= minCount)
        .select("g")
        .localCheckpoint(true)
      (width, grams, dict)
    }
    // Count-gated narrow rebuild (the dedupLines discipline), gated on
    // the COMBINED dictionary size; coverage union across tiers is the
    // expression's boundary-event prefix sum — the Multi leg's exact
    // algebra, computed per row instead of per corpus
    if (tierGrams.map(_._3.count()).sum <= maxBroadcastKeys) {
      val collected = tierGrams.map { case (width, _, dict) =>
        width -> dict.collect().map(_.getLong(0))
      }
      val rw = graft.functions.StripSpansRewrite
        .column(col(textCol), collected)
      return df
        .select(col(idCol).as("id"), explode(array(rw)).as("_s"))
        .select(
          col("id").as(idCol),
          coalesce(col("_s.clean_text"), lit("")).as("clean_text"),
          coalesce(col("_s.n_tokens") - col("_s.n_kept"), lit(0L))
            .as("n_removed"))
    }
    val events = tierGrams.map { case (width, grams, dict) =>
      grams
        .join(dict, Seq("g"))
        .select(col("id"),
          explode(array(
            struct(col("start").as("p"), lit(1).as("_d")),
            struct((col("start") + lit(width)).as("p"),
              lit(-1).as("_d")))).as("_e"))
        .select(col("id"), col("_e.p").as("p"), col("_e._d").as("_d"))
    }.reduce(_ union _)
    // one delta per (doc, position), then ONE running-sum window over
    // the token table: token p is covered iff the prefix sum > 0
    val deltas = events.groupBy("id", "p").agg(sum("_d").as("_delta"))
    val tokenRows = base
      .where(col("_n") > 0)
      .select(col("id"), posexplode(col("_toks")))
      .select(col("id"), col("pos").as("p"), col("col").as("_tok"))
    val running = org.apache.spark.sql.expressions.Window
      .partitionBy("id")
      .orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val kept = tokenRows
      .join(deltas, Seq("id", "p"), "left")
      .withColumn("_cov", sum(coalesce(col("_delta"), lit(0L))).over(running))
      .where(col("_cov") <= 0)
    val rebuilt = kept
      .groupBy("id")
      .agg(
        sort_array(collect_list(struct(col("p"), col("_tok")))).as("_a"),
        count(lit(1)).as("_kept"))
      .select(col("id"),
        concat_ws(" ", expr("transform(_a, x -> x._tok)")).as("clean_text"),
        col("_kept"))
    base
      .join(rebuilt, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("_n") - coalesce(col("_kept"), lit(0L))).as("n_removed"))
  }

  /** Near-duplicate pairs by HAMMING distance over a 32- or 64-bit
    * fingerprint column — the pairing stage [[simhash32]]/[[simhash64]]
    * and [[graft.multimodal.Multimodal.phash32]]/`phash64` feed: two
    * fingerprints within distance `maxHamming` must agree EXACTLY on
    * at least one of `bands` bit-bands (pigeonhole:
    * `maxHamming < bands`), so the candidate join is a banded
    * equi-join — never all-pairs — with the LSH path's mega-bucket
    * cap; candidates then verify with one codegen'd
    * `bit_count(a ^ b)`. Recall is EXACT under the pigeonhole bound
    * (unlike probabilistic LSH banding) — up to the mega-bucket cap:
    * a band bucket with more than `maxBucket` rows means > maxBucket
    * fingerprints sharing `bits/bands` identical bits, which at that
    * multiplicity is identical-fingerprint flood territory —
    * EXACT-dup clusters the fingerprint-groupBy tier
    * ([[exactGroups]] on the hash column) reports directly; pairing
    * them pairwise here would be the quadratic blowup the cap
    * exists to stop.
    *
    * SCALE: pick `bits = 64` past ~10⁷ docs. 32-bit banding at
    * bands=4 gives 8-bit bands — 256 buckets/band, occupancy n/256,
    * so the cap starts truncating genuinely distinct fingerprints
    * around 25 M docs, and the 2³² value space itself saturates near
    * 10⁹. 64-bit at bands=4 gives 16-bit bands — 65,536 buckets/band,
    * occupancy n/65k — and 2⁶⁴ values; the same plan carries to
    * 10⁹+ docs. Use [[hammingPairsDiag]] at scale: the cap drop is
    * otherwise silent. Returns `(id_a, id_b, hamming)`, `id_a < id_b`. */
  def hammingPairs(
      df: DataFrame,
      hashCol: String,
      idCol: String,
      maxHamming: Int,
      bands: Int = 4,
      maxBucket: Long = 100000L,
      bits: Int = 32
  ): DataFrame =
    hammingPairsDiag(df, hashCol, idCol, maxHamming, bands, maxBucket,
      bits)._1

  /** [[hammingPairs]] plus the cap DIAGNOSTIC: the second DataFrame is
    * the oversized band-buckets that were EXCLUDED from pairing
    * (`_band`, `_bits`, `_n` rows each > maxBucket). A non-empty
    * second side means the exact-recall pigeonhole bound was breached
    * by the cap — the one dedup failure mode a caller can't detect
    * downstream — so scale pipelines should run this variant and
    * alert/collapse the flooded buckets out of band ([[exactGroups]]
    * on the fingerprint column handles identical-fingerprint floods
    * directly). Both sides are LAZY: the diagnostic costs one extra
    * aggregation over the skinny (id, fingerprint) projection only
    * when acted on. */
  def hammingPairsDiag(
      df: DataFrame,
      hashCol: String,
      idCol: String,
      maxHamming: Int,
      bands: Int = 4,
      maxBucket: Long = 100000L,
      bits: Int = 32
  ): (DataFrame, DataFrame) = {
    require(maxHamming >= 0, s"maxHamming must be >= 0 (got $maxHamming)")
    require(bands > maxHamming,
      s"pigeonhole recall needs bands > maxHamming (got $bands <= $maxHamming)")
    require(bits == 32 || bits == 64, s"bits must be 32 or 64 (got $bits)")
    require(bits % bands == 0, s"bands must divide $bits (got $bands)")
    val width = bits / bands
    val mask = (1L << width) - 1
    // mask to the low 32 bits in 32-bit mode: an IntegerType
    // fingerprint column would sign-extend through cast("long"),
    // inflating bit_count by 32 for negative-int hashes and silently
    // dropping pairs that straddle bit 31. 64-bit fingerprints use
    // the full long: arithmetic shiftright sign-fill is masked off by
    // the band mask, and bit_count over the xor is sign-agnostic.
    val h =
      if (bits == 32)
        col(hashCol).cast("long").bitwiseAND(lit(0xFFFFFFFFL))
      else col(hashCol).cast("long")
    // one explicit exchange on the band keys before the three
    // consumers (bucket counts + both self-join sides): `df` is
    // usually a narrow NATIVE fingerprint stage (simhash/phash) with
    // no exchange of its own, so without this the fingerprint scan
    // would re-evaluate per consumer (the minhashLshPairs lesson —
    // see its banded repartition note); the groupBy and the equi-join
    // reuse this hashpartitioning, so it adds no extra shuffle
    val banded = df
      .select(col(idCol).as("id"), h.as("_h"))
      .select(col("id"), col("_h"),
        explode(sequence(lit(0), lit(bands - 1))).as("_band"))
      .withColumn("_bits",
        expr(s"shiftright(_h, _band * $width)").bitwiseAND(lit(mask)))
      .repartition(col("_band"), col("_bits"))
    val (kept, capped) = graft.query.Skew.capBuckets(
      banded, Seq("_band", "_bits"), maxBucket)
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a._band") === col("b._band") &&
          col("a._bits") === col("b._bits") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a._h").as("_ha"), col("b._h").as("_hb"))
      .distinct() // a close pair can collide in several bands
      .withColumn("hamming", expr("bit_count(_ha ^ _hb)").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    (pairs, capped)
  }

  /** The PERSISTABLE banded fingerprint index — [[hammingPairs]]'
    * banding materialized as `(id, band, bkey, h)` rows (h already
    * masked for 32-bit fingerprints), so a standing corpus is banded
    * ONCE and every future batch probes it in place
    * ([[incrementalHammingPairs]]). bands × |corpus| rows of four
    * numeric columns; write it partitioned/bucketed by (band, bkey)
    * for probe-side pruning like the text tier's [[lshBandIndex]]. */
  def hammingBandIndex(
      df: DataFrame,
      hashCol: String,
      idCol: String,
      bands: Int = 4,
      bits: Int = 32
  ): DataFrame = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64 (got $bits)")
    require(bits % bands == 0, s"bands must divide $bits (got $bands)")
    val width = bits / bands
    val mask = (1L << width) - 1
    val h =
      if (bits == 32)
        col(hashCol).cast("long").bitwiseAND(lit(0xFFFFFFFFL))
      else col(hashCol).cast("long")
    df.select(col(idCol).as("id"), h.as("h"))
      .select(col("id"), col("h"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bkey",
        expr(s"shiftright(h, band * $width)").bitwiseAND(lit(mask)))
      .select("id", "band", "bkey", "h")
  }

  /** INCREMENTAL Hamming near-dup pairing — the fingerprint tier's
    * (SimHash text dedup, pHash media dedup) steady-state form,
    * completing the family with [[incrementalLshPairs]] (text) and
    * [[incrementalEmbeddingNearDup]] (vectors): pair a NEW batch
    * against a standing [[hammingBandIndex]] without ever pairing the
    * corpus against itself.
    *
    * Plan shape mirrors the text tier: the batch is banded once
    * (batch-sized), its distinct `(band, bkey)` keys — count-gated —
    * BROADCAST-semi-probe the index (nothing corpus-sized moves), the
    * combined probed population is capped (identical drop decision to
    * a batch run — unprobed buckets hold no batch docs), and pairs
    * are batch × (batch ∪ probed) only. No verify fetch at all: the
    * fingerprints RIDE the band rows, so the Hamming check is one
    * xor/bit_count per candidate. Pigeonhole exactness carries over:
    * every pair within `maxHamming` that touches the batch shares an
    * exact band with it. Returns `(pairs(id_a, id_b, hamming),
    * cappedBuckets)`. Ids must be disjoint from the corpus's. */
  def incrementalHammingPairsDiag(
      newDocs: DataFrame,
      hashCol: String,
      idCol: String,
      corpusIndex: DataFrame,
      maxHamming: Int,
      bands: Int = 4,
      maxBucket: Long = 100000L,
      bits: Int = 32,
      maxBroadcastProbeKeys: Long = 4000000L,
      minProbeExchangeRows: Long = 50000L
  ): (DataFrame, DataFrame) = {
    require(maxHamming >= 0, s"maxHamming must be >= 0 (got $maxHamming)")
    require(bands > maxHamming,
      s"pigeonhole recall needs bands > maxHamming (got $bands <= $maxHamming)")
    incrementalHammingFromBands(
      hammingBandIndex(newDocs, hashCol, idCol, bands, bits)
        .localCheckpoint(true), // probe keys + tagged union reuse it
      corpusIndex, maxHamming, maxBucket, maxBroadcastProbeKeys,
      minProbeExchangeRows)
  }

  /** The probe/pair core of [[incrementalHammingPairsDiag]] over an
    * ALREADY-banded, already-materialized batch (`newBands` must be a
    * localCheckpointed `(id, band, bkey, h)` frame) — exposed
    * package-private so [[FingerprintIndex.ingest]] can band the
    * batch ONCE and reuse the same checkpointed frame for its index
    * commit (the commit's range-partitioner sampling pass otherwise
    * re-ran the banding a third time per ingest). */
  private[graft] def incrementalHammingFromBands(
      newBands: DataFrame,
      corpusIndex: DataFrame,
      maxHamming: Int,
      maxBucket: Long = 100000L,
      maxBroadcastProbeKeys: Long = 4000000L,
      minProbeExchangeRows: Long = 50000L
  ): (DataFrame, DataFrame) = {
    val nRows = newBands.count()
    val probe = newBands.select("band", "bkey").distinct()
    val probeSide =
      if (nRows <= maxBroadcastProbeKeys) broadcast(probe) else probe
    val probedCorpus0 = corpusIndex
      .join(probeSide, Seq("band", "bkey"), "left_semi")
    // Count-gated reuse exchange above the probe — the
    // incrementalFromBands lesson applied to the Hamming tier: the
    // tagged frame below has FOUR consumers (cap counts, cap
    // semi-join, both pair-join sides), and without a reuse point
    // each re-runs this standing-index semi-probe — three extra
    // scans of the standing store per ingest, the corpus-linear
    // drift BASELINE.md records under "Round 16 (cont.):
    // fingerprint-artifact probe" (+4 s/batch by 786k docs). With the
    // exchange, ReuseExchange serves every consumer from ONE
    // batch-bound shuffle of probed rows. Small batches (probe reach
    // is bucket-correlated with the batch) skip the fixed stage cost
    // and re-probe instead — same gate and rationale as the LSH tier.
    val probedCorpus =
      if (nRows > minProbeExchangeRows)
        probedCorpus0.repartition(col("band"), col("bkey"))
      else probedCorpus0
    val tagged = newBands
      .select(col("id"), col("band"), col("bkey"), col("h"),
        lit(true).as("_new"))
      .unionByName(probedCorpus
        .select(col("id"), col("band"), col("bkey"), col("h"),
          lit(false).as("_new")))
    val (kept, capped) =
      graft.query.Skew.capBuckets(tagged, Seq("band", "bkey"), maxBucket)
    val newSide = kept.where(col("_new"))
      .select(col("id").as("id_x"), col("band"), col("bkey"),
        col("h").as("_hx"))
    val allSide = kept
      .select(col("id").as("id_y"), col("band"), col("bkey"),
        col("h").as("_hy"))
    val pairs = newSide
      .join(allSide, Seq("band", "bkey"))
      .where(col("id_x") =!= col("id_y"))
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        expr("bit_count(_hx ^ _hy)").cast("long").as("hamming"))
      .distinct() // a close pair can collide in several bands
      .where(col("hamming") <= maxHamming)
      // materialized once (executor-local blocks), like the LSH
      // tier's candidates checkpoint: the survivor rule's CC
      // iterations, the admitted anti-join, the index commit's loser
      // join and the caller's own evaluation all reuse this
      // pair-bound frame — without it each consumer re-runs the
      // whole standing-index probe, a corpus-linear multiplier (the
      // full ingest measured 3-4x the lone probe; BASELINE.md,
      // "FingerprintIndex probe made batch-bound")
      .localCheckpoint(true)
    (pairs, capped)
  }

  /** [[incrementalHammingPairsDiag]] with the diagnostic dropped —
    * callers that pre-collapsed identical fingerprints. */
  def incrementalHammingPairs(
      newDocs: DataFrame,
      hashCol: String,
      idCol: String,
      corpusIndex: DataFrame,
      maxHamming: Int,
      bands: Int = 4,
      maxBucket: Long = 100000L,
      bits: Int = 32
  ): DataFrame =
    incrementalHammingPairsDiag(newDocs, hashCol, idCol, corpusIndex,
      maxHamming, bands, maxBucket, bits)._1

  /** The fingerprint near-dup CLUSTER pipeline end to end —
    * [[simhash32]]/[[simhash64]] → [[hammingPairsDiag]] →
    * [[connectedComponents]] — with the mega-bucket cap diagnostic
    * THREADED OUT instead of dropped. Returns `(clusters, capped)`:
    * `clusters` is `(id, component)` (component = min member id);
    * `capped` is [[hammingPairsDiag]]'s excluded-bucket side, and
    * EMPTY means the pigeonhole recall bound held exactly — every
    * pair within `maxHamming` is in some cluster. A non-empty side
    * is the one silent recall failure mode a 10⁹-doc run has
    * (reference analogue: consistency must be checkable,
    * offset2/log.go:304-344), so production entry points either act
    * on it or use [[fingerprintClusters]], which refuses. */
  def fingerprintClustersDiag(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Long = 100000L,
      bits: Int = 64,
      maxIter: Int = 50
  ): (DataFrame, DataFrame) = {
    val sh =
      if (bits == 64) simhash64(df, textCol, idCol)
      else simhash32(df, textCol, idCol)
    val (pairs, capped) = hammingPairsDiag(
      sh.select(col("id"), col("simhash").as("h")),
      "h", "id", maxHamming, bands, maxBucket, bits)
    (connectedComponents(pairs.select("id_a", "id_b"), maxIter = maxIter),
      capped)
  }

  /** [[fingerprintClustersDiag]] with the diagnostic ENFORCED: checks
    * the capped side up front (one aggregation over the skinny
    * `(id, fingerprint)` projection — the only eager action in the
    * dedup layer, and the point of it) and throws instead of
    * returning clusters that silently miss pairs. A flooded band
    * bucket at that multiplicity is identical-fingerprint territory:
    * collapse those docs with [[exactGroups]] on the fingerprint
    * column first, or raise `maxBucket`, or drop to the Diag variant
    * and route the capped buckets out of band. */
  def fingerprintClusters(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Long = 100000L,
      bits: Int = 64,
      maxIter: Int = 50
  ): DataFrame = {
    val (clusters, capped) = fingerprintClustersDiag(
      df, textCol, idCol, maxHamming, bands, maxBucket, bits, maxIter)
    val flooded = capped.limit(3).collect()
    if (flooded.nonEmpty)
      throw new IllegalStateException(
        "fingerprintClusters: band bucket(s) over maxBucket=" + maxBucket +
          " were excluded from pairing — recall is no longer exact. First: " +
          flooded.map(_.toString).mkString(", ") +
          ". Collapse identical fingerprints with exactGroups first, raise " +
          "maxBucket, or use fingerprintClustersDiag and handle the capped " +
          "buckets out of band.")
    clusters
  }

  /** Cross-document LINE dedup (the RefinedWeb/CCNet tier): a line
    * whose trimmed text appears in at least `minDocs` DISTINCT
    * documents is removed from EVERY document, and each doc's text is
    * rebuilt from its surviving lines in original order. This is the
    * alignment-anchored sibling of [[stripRepeatedSpans]]: spans catch
    * arbitrary-offset repeats, line dedup catches the structured kind
    * (nav bars, cookie banners, repeated headers) at a fraction of the
    * cost — no sliding-window coverage, just an exact line-key count.
    * Reference scope: the engine has doc-level dedup only
    * (margaret has no sub-document tier); this extends it for
    * training-data curation.
    *
    * Plan shape at 100 TB: lines are keyed by HASH (never the line
    * text on the wire) — md5 when `portableHash` (the default the
    * q85/q86 DuckDB oracles recompute bit-for-bit) or xxhash64 (the
    * production config: codegen'd, no crypto hash per line; the
    * OUTPUT is hash-choice-invariant, spec-pinned); the frequency
    * count is one map-side-combined shuffle over per-doc-DISTINCT
    * keys — the ONLY shuffle of the whole operator in the common
    * case: the duplicated-line dictionary (df >= minDocs survivors)
    * is a tiny fraction of the line space, so it is count-gate
    * COLLECTED and the rebuild becomes one narrow per-row expression
    * ([[graft.functions.DedupLinesRewrite]] — the CodebookArgmin
    * data-in-expression pattern), never re-exploding or regrouping
    * the corpus. Past the gate it degrades to the join leg (keyed
    * shuffle against the dict, per-doc regroup) instead of
    * hard-failing the driver.
    *
    * Blank lines (trim-empty) are never counted and always kept:
    * removing them would mangle paragraph structure for no dedup
    * value. Returns `(id, clean_text, n_lines, n_removed)` — every
    * input doc exactly once. */
  def dedupLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Long = 2,
      maxBroadcastKeys: Long = 1000000L,
      portableHash: Boolean = true
  ): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    val lineKey: Column =
      if (portableHash) md5(trim(col("col")))
      else xxhash64(trim(col("col")))
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")))
      .select(col("id"), col("pos").as("p"), col("col").as("_line"),
        lineKey.as("_k"),
        (length(trim(col("col"))) > 0).as("_nonblank"))
    // per-doc-distinct keys computed NARROWLY per row
    // ([[graft.functions.DistinctLineKeys]] — one codegen-fused walk),
    // so document frequency needs ONE map-side-combined shuffle of
    // partial counts — where a `.distinct()` over exploded (id, key)
    // rows would shuffle every line key of the corpus a first time
    // just to dedup within docs
    val dupKeys = df
      .select(explode(graft.functions.DistinctLineKeys
        .column(col(textCol), portableHash)).as("_k"))
      .groupBy(col("_k")).agg(count(lit(1)).as("_df"))
      .where(col("_df") >= minDocs)
      .select(col("_k"))
    // Count-gated fast path (the jaccardVerify gate discipline; the
    // dict is materialized ONCE — eager localCheckpoint — so the gate
    // count does not re-run the explode+distinct pipeline): while the
    // counted dictionary is modest it is COLLECTED as sorted 64-bit
    // keys and the whole rebuild becomes ONE narrow per-row expression
    // ([[graft.functions.DedupLinesRewrite]]) — no line explode, no
    // back-join, no doc-keyed re-aggregation, and crucially no second
    // shuffle carrying every surviving line of the corpus (at 100 TB
    // that regroup shuffle is corpus-sized; the fast path moves only
    // the counted keys). A pathological corpus (more duplicated lines
    // than the gate) degrades to the join leg below — broadcast-join
    // while the dict still broadcasts, keyed shuffle past that —
    // instead of hard-failing the driver. Both legs are spec-pinned
    // identical (PipelinePropSpec, both hash configs).
    val dict = dupKeys.localCheckpoint(true)
    // ONE gate job, not count-then-collect (the incrementalFromBands
    // gathered-gate discipline): fetch up to gate+1 keys from the
    // checkpointed blocks; an overflow row means "too many — join
    // leg", otherwise the gathered set IS the dictionary
    val gateLimit =
      math.min(maxBroadcastKeys + 1, Int.MaxValue.toLong).toInt
    val gathered = dict.limit(gateLimit).collect()
    if (gathered.length <= maxBroadcastKeys) {
      val keys: Array[Long] =
        if (portableHash)
          gathered.map(r =>
            // first 16 md5-hex chars == first 8 digest bytes, the
            // exact truncation DedupLinesRewrite recomputes per line
            java.lang.Long.parseUnsignedLong(r.getString(0).take(16), 16))
        else gathered.map(_.getLong(0))
      val rw = graft.functions.DedupLinesRewrite
        .rewriteColumn(col(textCol), portableHash, keys)
      // explode(array(...)) so the rewrite evaluates ONCE per row (a
      // bare multi-field select would re-inline it per field after
      // projection collapse — the simhashNative discipline). A null
      // text yields a null struct; its n_lines falls back to the join
      // leg's exact `size(split(null))` expression so both legs agree
      // on the null-text row shape too.
      val fallbackN = size(split(col("_t"), "\n")).cast("long")
      return df
        .select(col(idCol).as("id"), col(textCol).as("_t"),
          explode(array(rw)).as("_s"))
        .select(
          col("id").as(idCol),
          coalesce(col("_s.clean_text"), lit("")).as("clean_text"),
          coalesce(col("_s.n_lines"), fallbackN).as("n_lines"),
          (coalesce(col("_s.n_lines"), fallbackN) -
            coalesce(col("_s.n_kept"), lit(0L))).as("n_removed"))
    }
    // over-gate leg: keyed shuffle join (nKeys > maxBroadcastKeys, so
    // the dict is past broadcast size by definition)
    val marked = dict.withColumn("_dup", lit(1))
    val joined = lines.join(marked, Seq("_k"), "left")
    val kept = joined.where(col("_dup").isNull || !col("_nonblank"))
    val rebuilt = kept
      .groupBy("id")
      .agg(
        sort_array(collect_list(struct(col("p"), col("_line")))).as("_a"),
        count(lit(1)).as("_kept"))
      .select(col("id"),
        concat_ws("\n", expr("transform(_a, x -> x._line)")).as("clean_text"),
        col("_kept"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), "\n")).cast("long").as("_n"))
      .join(rebuilt, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("_n").as("n_lines"),
        (col("_n") - coalesce(col("_kept"), lit(0L))).as("n_removed"))
  }

  /** 32-bit SimHash from whitespace tokens: bit i of the fingerprint
    * is the majority vote of bit i across all token md5 hashes
    * (duplicate tokens vote once per occurrence — frequency-weighted).
    * ONE narrow native expression per row (round 14 — no explode, no
    * doc-keyed shuffle); exactly recomputable in the oracle, which
    * recomputes the composed twin's arithmetic. One row per input row
    * with a token; blank/null docs drop (same note on duplicate ids
    * as [[minhashSignatures]]). */
  def simhash32(
      df: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = simhashNative(df, textCol, idCol, 32)

  /** Shared native front for [[simhash32]]/[[simhash64]]: ONE narrow
    * expression per row ([[graft.functions.SimHashFingerprint]] —
    * round 14), exploded so blank docs drop from the output exactly
    * like the composed token-explode did (and so the expression
    * evaluates once per row — a filter over the projected alias would
    * be pushed below the Project and evaluate it twice). The composed
    * twins below stay as the executable specification;
    * ShingleExprSpec pins bit-identical fingerprints. */
  private def simhashNative(
      df: DataFrame,
      textCol: String,
      idCol: String,
      bits: Int
  ): DataFrame = {
    graft.functions.SimHashExpr.register(df.sparkSession)
    df.where(col(textCol).isNotNull)
      .select(
        col(idCol).as("id"),
        explode(call_function("simhash_fingerprint", col(textCol),
          lit(bits))).as("simhash"))
  }

  private[graft] def simhash32Composed(
      df: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = {
    val toks = df.select(
      col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok")
    )
    // token hash as a 32-bit int from the first 8 md5 hex chars
    val hashed = toks.withColumn(
      "h",
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
    )
    // one aggregation with 32 conditional-sum columns instead of a
    // 32× bit-explode: same votes (bit i of h extracted with exact
    // integer shift), 1/32 the aggregated rows. The oracle recomputes
    // the identical math with floor/pow arithmetic.
    val votes = (0 until 32).map { b =>
      sum(
        when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)
      ).as(s"v$b")
    }
    hashed
      .groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(
        col("id"),
        (0 until 32)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _)
          .as("simhash")
      )
  }

  /** 64-bit SimHash — [[simhash32]] widened for the 100 TB tier:
    * 32-bit fingerprints saturate their value space near 10⁹ docs and
    * their 8-bit band buckets near 25 M (see [[hammingPairs]]); 64
    * md5-derived bits with 16-bit bands carry the same exact-recall
    * pairing plan to full scale. Same majority-vote construction:
    * bit i of the fingerprint is the majority vote of bit i across
    * all token hashes, where the token hash is the first 16 md5 hex
    * chars — taken as two unsigned 32-bit halves (`hi` = chars 1–8,
    * `lo` = chars 9–16) so the arithmetic never leaves non-negative
    * long range and the oracle recomputes it exactly. Bit 63 of the
    * result is the long SIGN bit (`1L << 63` = Long.MinValue) — the
    * fingerprint is a bit pattern, not a magnitude. Same plan shape
    * as [[simhash32]]: one narrow aggregation per doc, 64
    * conditional-sum columns, no bit-explode. */
  def simhash64(
      df: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = simhashNative(df, textCol, idCol, 64)

  private[graft] def simhash64Composed(
      df: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = {
    val toks = df.select(
      col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok")
    )
    val hashed = toks
      .withColumn("_md", md5(col("tok")))
      .withColumn("hi", conv(substring(col("_md"), 1, 8), 16, 10).cast("long"))
      .withColumn("lo", conv(substring(col("_md"), 9, 8), 16, 10).cast("long"))
    val votes = (0 until 64).map { b =>
      val bit =
        if (b < 32) shiftright(col("lo"), b)
        else shiftright(col("hi"), b - 32)
      sum(when(bit.bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    // reassembly sums bits 0..62 first (partial sums stay within
    // [0, 2^63)) and adds the bit-63 term (Long.MinValue) last — no
    // intermediate overflow under ANSI arithmetic
    hashed
      .groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(
        col("id"),
        (0 until 64)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _)
          .as("simhash")
      )
  }

  /** Embedding near-duplicates: pairs with cosine >= threshold.
    * Brute-force within LSH-style buckets is the scale path
    * (see [[graft.similarity.Ann]]); this exact variant is the
    * correctness baseline over modest candidate sets. */
  def embeddingNearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95
  ): DataFrame = {
    graft.functions.VecOps.register(df.sparkSession)
    // Norms are computed ONCE per vector (narrow, pre-join) so each of
    // the O(n²) pairs only pays for one native codegen'd dot product.
    val withNorm = df.select(
      col(idCol),
      col(vecCol),
      call_function("vec_norm_f", col(vecCol)).as("nrm")
    )
    val a = withNorm.select(
      col(idCol).as("id_a"), col(vecCol).as("va"), col("nrm").as("na"))
    val b = withNorm.select(
      col(idCol).as("id_b"), col(vecCol).as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn(
        "cos",
        round(
          when(col("na") === 0.0 || col("nb") === 0.0, 0.0)
            .otherwise(
              call_function("vec_dot_f", col("va"), col("vb")) /
                (col("na") * col("nb"))),
          6
        )
      )
      .where(col("cos") >= threshold) // threshold on the ROUNDED value:
      // keeps the boundary deterministic across engines/run orders
      .select(col("id_a"), col("id_b"), col("cos").as("cosine"))
  }

  /** Scale path for embedding near-dup: only pairs sharing an LSH
    * bucket are scored — sum(bucket²) pairs instead of n², at the cost
    * of missing pairs whose signatures split (recall governed by
    * `bits`; near-identical vectors virtually always share buckets).
    * The bucketed table can be partitioned by bucket, making this a
    * co-partitioned self-join with no global shuffle of pairs. */
  def embeddingNearDupLsh(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      bits: Int = 8,
      maxBucket: Long = 10000L
  ): DataFrame = {
    import graft.similarity.Ann
    graft.functions.VecOps.register(df.sparkSession)
    // one explicit exchange on the bucket key after the narrow
    // signature+norm stage, shared by its three consumers (bucket
    // counts + both self-join sides) — the minhashLshPairs lesson:
    // with no exchange of its own, the per-row signature/norm scan
    // would re-evaluate per consumer, and the per-branch projections
    // differ so their own exchanges never ReuseExchange. The
    // groupBy(bucket) and the equi-join reuse this hashpartitioning
    // (projections preserve it), so no extra shuffle. No persist —
    // shuffle files, not cache residency.
    val raw = df.select(
      col(idCol),
      col(vecCol),
      call_function("vec_norm_f", col(vecCol)).as("nrm"),
      Ann.lshSignature(col(vecCol), bits, Ann.vecDims(df, vecCol)).as("bucket")
    ).repartition(col("bucket"))
    // cap per-bucket cardinality before the self-join (see
    // minhashLshPairs): one boilerplate bucket must not go quadratic
    val (bucketed, _) =
      graft.query.Skew.capBuckets(raw, Seq("bucket"), maxBucket)
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    val result = a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn(
        "cos",
        round(
          when(col("na") === 0.0 || col("nb") === 0.0, 0.0)
            .otherwise(
              call_function("vec_dot_f", col("va"), col("vb")) /
                (col("na") * col("nb"))),
          6
        )
      )
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos").as("cosine"))
      .distinct()
    result
  }

  /** Batch-vs-standing-corpus embedding near-dup — the
    * [[incrementalLshPairs]] shape on the embedding tier: bucket the
    * batch (sign-LSH, one bucket per vector), probe the PERSISTED
    * corpus bucket index ([[graft.similarity.Ann.lshBuckets]] output /
    * a [[graft.similarity.Ann.writeBucketedIndex]] read — the index
    * carries the vectors, the IVF-flat layout, so the verify needs no
    * separate fetch), score cosine within shared buckets. Emits
    * exactly the batch-touching pairs the full batch run
    * ([[embeddingNearDupLsh]] over corpus ∪ batch) would —
    * corpus×corpus pairs are never generated, and the mega-bucket cap
    * counts the COMBINED population (the batch-run-equivalent
    * decision; the diag side reports the drops).
    *
    * Plan shape at 100 TB: the batch is bucketed once (narrow) and
    * its distinct bucket keys broadcast (count-gated) into the index
    * — a bucket-partitioned index prunes to probed directories; only
    * probed rows shuffle (batch-bound), the standing corpus never
    * rescans or moves. */
  def incrementalEmbeddingNearDupDiag(
      newVecs: DataFrame,
      vecCol: String,
      idCol: String,
      corpusBuckets: DataFrame,
      threshold: Double = 0.95,
      bits: Int = 8,
      maxBucket: Long = 10000L,
      maxBroadcastProbeKeys: Long = 4000000L
  ): (DataFrame, DataFrame) = {
    import graft.similarity.Ann
    val spark = newVecs.sparkSession
    graft.functions.VecOps.register(spark)
    val newB = Ann.lshBuckets(newVecs, vecCol, idCol, bits)
      .localCheckpoint(true) // probe keys + tagged union reuse it
    val nRows = newB.count()
    val probe = newB.select("bucket").distinct()
    val probeSide =
      if (nRows <= maxBroadcastProbeKeys) broadcast(probe) else probe
    val probedCorpus = corpusBuckets
      .join(probeSide, Seq("bucket"), "left_semi")
    val tagged = newB
      .select(col(idCol).as("_id"), col(vecCol).as("_v"), col("bucket"),
        lit(true).as("_new"))
      .unionByName(probedCorpus
        .select(col(idCol).as("_id"), col(vecCol).as("_v"), col("bucket"),
          lit(false).as("_new")))
    // combined-population cap: identical drop decision to the batch
    // run (unprobed corpus buckets hold no batch vector, so they can
    // never contribute a batch-touching pair)
    val (kept, capped) =
      graft.query.Skew.capBuckets(tagged, Seq("bucket"), maxBucket)
    val withNrm = kept
      .withColumn("_n", call_function("vec_norm_f", col("_v")))
    val newSide = withNrm.where(col("_new"))
      .select(col("bucket"), col("_id").as("id_x"),
        col("_v").as("va"), col("_n").as("na"))
    val allSide = withNrm
      .select(col("bucket"), col("_id").as("id_y"),
        col("_v").as("vb"), col("_n").as("nb"))
    val pairs = newSide.join(allSide, Seq("bucket"))
      .where(col("id_x") =!= col("id_y"))
      .withColumn(
        "cos",
        round(
          when(col("na") === 0.0 || col("nb") === 0.0, 0.0)
            .otherwise(
              call_function("vec_dot_f", col("va"), col("vb")) /
                (col("na") * col("nb"))),
          6))
      .where(col("cos") >= threshold)
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        col("cos").as("cosine"))
      .distinct() // batch×batch pairs arrive once per orientation
    (pairs, capped)
  }

  /** [[incrementalEmbeddingNearDupDiag]] without the cap diagnostic. */
  def incrementalEmbeddingNearDup(
      newVecs: DataFrame,
      vecCol: String,
      idCol: String,
      corpusBuckets: DataFrame,
      threshold: Double = 0.95,
      bits: Int = 8,
      maxBucket: Long = 10000L,
      maxBroadcastProbeKeys: Long = 4000000L
  ): DataFrame =
    incrementalEmbeddingNearDupDiag(newVecs, vecCol, idCol, corpusBuckets,
      threshold, bits, maxBucket, maxBroadcastProbeKeys)._1

  /** Batch-vs-standing-corpus SemDeDup — [[semanticDedup]]'s
    * keep-first rule applied at ingest time: assign the batch to the
    * PINNED codebook's cells, fetch the standing docs of the cells
    * the batch touches (a partition-prunable literal — the probe set
    * is bounded by the codebook size, never collected from data),
    * and drop every batch vector dominated (cosine ≥ `threshold`) by
    * a LOWER-id vector in its cell, standing or batch.
    *
    * `corpusCells` must hold EVERY previously seen doc `(idCol,
    * vecCol, cell)` — in SemDeDup the dominator need not have
    * survived itself (b is dropped when ANY earlier a ≥ threshold,
    * even if a was itself dropped), so indexing only survivors would
    * re-admit near-dups of dropped docs. Batch ids must exceed all
    * indexed ids (the daemon's monotonic-id discipline); then the
    * admitted set equals the one-shot [[semanticDedup]] over
    * corpus ∪ batch restricted to batch ids (spec-pinned, rolling).
    *
    * Plan shape at 100 TB: the batch assign is a narrow map; the
    * standing index is SCANNED for the probed cells only
    * (cell-partitioned storage prunes the rest) and never shuffles —
    * the batch side of the dominate join is the small one, so AQE
    * broadcasts it and the probed rows stream. Honest cost note:
    * exact SemDeDup compares the batch against EVERY same-cell prior
    * doc, so per-ingest cost is probed-cell-population-bound, not
    * batch-bound — a batch touching all of a SMALL codebook's cells
    * rescans the standing corpus. The standard trade: size k so cells
    * stay small relative to ingest cadence (production SemDeDup runs
    * k in the 10⁴–10⁵ range for exactly this reason). */
  def incrementalSemanticDedup(
      newVecs: DataFrame,
      vecCol: String,
      idCol: String,
      corpusCells: DataFrame,
      cents: Seq[(Long, Seq[Float])],
      threshold: Double = 0.95
  ): DataFrame = {
    import graft.similarity.Ann
    graft.functions.VecOps.register(newVecs.sparkSession)
    val batchCells = Ann.ivfAssignVectors(newVecs, vecCol, idCol, cents)
      .localCheckpoint(true) // probe keys + both join legs reuse it
    val probeCells = batchCells
      .select("cell").where(col("cell").isNotNull).distinct()
      .collect().map(_.getLong(0)) // ≤ |codebook| by construction
    val probedCorpus = corpusCells
      .where(col("cell").isin(probeCells.toSeq: _*))
    val dominators = batchCells
      .select(col(idCol).as("id_a"), col("cell"), col(vecCol).as("va"))
      .unionByName(probedCorpus
        // a cell-partitioned parquet read can infer the partition
        // column as int — normalize before the union
        .select(col(idCol).as("id_a"), col("cell").cast("long").as("cell"),
          col(vecCol).as("va")))
      .withColumn("na", call_function("vec_norm_f", col("va")))
    val targets = batchCells
      .select(col(idCol).as("id_b"), col("cell"), col(vecCol).as("vb"))
      .withColumn("nb", call_function("vec_norm_f", col("vb")))
    val dominated = dominators.join(targets, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .where(
        when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
          .otherwise(
            round(
              call_function("vec_dot_f", col("va"), col("vb")) /
                (col("na") * col("nb")), 6)) >= threshold)
      .select(col("id_b").as(idCol))
      .distinct()
    batchCells
      .join(dominated, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  /** SemDeDup-style semantic deduplication: coarse-cluster the
    * embeddings (per-row literal-codebook argmin — no shuffle), then
    * drop every vector whose cosine similarity to a LOWER-id vector
    * in the same cell reaches `threshold` (the deterministic
    * keep-first rule). Pairwise comparison happens only WITHIN cells
    * — the cluster step is what keeps the 100 TB case from ever
    * planning a corpus×corpus join; the cell self-join shuffles on
    * the cell key and AQE handles a skewed giant cell. Returns the
    * surviving (id, cell) rows.
    *
    * The drop rule is one pass (b dies when some a < b in its cell is
    * similar, whether or not a itself survives) — deterministic and
    * exactly recomputable in SQL, unlike iterated-greedy variants. */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroidIds: Seq[Long],
      threshold: Double = 0.95
  ): DataFrame = {
    import graft.similarity.Ann
    graft.functions.VecOps.register(df.sparkSession)
    val cells = Ann
      .ivfAssign(df, vecCol, idCol, centroidIds)
      .select(
        col(idCol), col("cell"),
        col(vecCol),
        call_function("vec_norm_f", col(vecCol)).as("nrm"))
    val a = cells.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = cells.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    val dominated = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .where(
        when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
          .otherwise(
            round(
              call_function("vec_dot_f", col("va"), col("vb")) /
                (col("na") * col("nb")), 6)) >= threshold)
      .select(col("id_b").as(idCol))
      .distinct()
    cells
      .join(dominated, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }
}
