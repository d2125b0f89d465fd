package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Ann
import graft.text.TextFunctions

/** Behavior tests for the pipeline operators: LSH recall vs the exact
  * baselines, dedup invariants, multimodal round-trips. (Value-level
  * correctness is separately pinned by the DuckDB oracle in
  * SparkEntry.oracleSql.)
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("incremental hamming pairs equal batch-touching pairs over a persisted index") {
    val sh = Dedup.simhash32(docs, "text", "doc_id").toDF("id", "h")
    val corpus = sh.where(col("id") < 250)
    val batch = sh.where(col("id") >= 250)
    val idxDir = tmpDir("hamidx-")
    Dedup.hammingBandIndex(corpus, "h", "id", bands = 4, bits = 32)
      .write.mode("overwrite").parquet(idxDir)
    val got = Dedup.incrementalHammingPairs(batch, "h", "id",
        spark.read.parquet(idxDir), maxHamming = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the rolling identity: exactly the batch-touching slice of the
    // full batch run (pigeonhole — both are exact at d <= 2)
    val all = Dedup.hammingPairs(sh, "h", "id", maxHamming = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = all.filter(p => p._2 >= 250)
    assert(got == want,
      s"extra=${got -- want}, missing=${want -- got}")
    assert(got.nonEmpty && all.exists(_._2 < 250),
      "fixture vacuous: need batch-touching AND corpus-only pairs")
    // corpus×corpus never generated: every pair touches the batch
    assert(got.forall(_._2 >= 250))
  }

  test("contrastive pairs: kinds partition the candidates, ring is clean and deterministic") {
    import graft.pipeline.Contrastive
    val out = Contrastive.minePairs(docs, "text", "doc_id",
      numHashes = 8, bands = 4, threshold = 0.35, seed = "cp")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val byKind = out.groupBy(_._3)
    // positives == minhashLshPairs at the same threshold, exactly
    val wantPos = Dedup
      .minhashLshPairs(docs, "text", "doc_id", numHashes = 8, bands = 4,
        threshold = 0.35)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPos = byKind("positive").map(p => (p._1, p._2)).toSet
    assert(gotPos == wantPos, "positives != verified LSH pairs")
    assert(byKind("positive").forall(_._4.exists(_ >= 0.35)))
    // hard negatives: scored below threshold, disjoint from positives
    val hard = byKind.getOrElse("hard_negative", Array.empty[(Long, Long, String, Option[Double])])
    assert(hard.forall(_._4.exists(_ < 0.35)))
    assert(hard.map(p => (p._1, p._2)).toSet.intersect(gotPos).isEmpty)
    // ring: one negative per doc (minus singleton buckets), no
    // self-pairs, never a verified positive in either orientation
    val ring = byKind("random_negative")
    assert(ring.length >= 490 && ring.length <= 500, s"ring ${ring.length}")
    assert(ring.forall(p => p._1 != p._2 && p._4.isEmpty))
    val posUndirected = wantPos.flatMap(p => Seq(p, p.swap))
    assert(ring.forall(p => !posUndirected.contains((p._1, p._2))),
      "a ring negative is a verified positive")
    // deterministic: a re-run mines the identical dataset
    val again = Contrastive.minePairs(docs, "text", "doc_id",
      numHashes = 8, bands = 4, threshold = 0.35, seed = "cp")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out.toSet == again.toSet)
  }

  test("directed containment: a quoted subset scores ~1 one way, jaccard-low both ways") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, short), (2L, long), (3L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(df, "text", "doc_id",
      shingleWidth = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every trigram of the short doc appears in the long one
    val fwd = got.find(t => t._1 == 1L && t._2 == 2L)
    assert(fwd.exists(_._3 == 1.0), s"containment(short→long) != 1: $got")
    // the reverse direction is |inter|/|long-grams| — far below the
    // threshold, so it must NOT appear (directedness)
    assert(!got.exists(t => t._1 == 2L && t._2 == 1L), got.toString)
    // and symmetric jaccard misses the pair entirely at the same bar
    val jac = Dedup.ngramJaccardPairs(df, "text", "doc_id", 3, 0.5)
    assert(jac.where(col("id_a") === 1L && col("id_b") === 2L).count() == 0L,
      "fixture broken: jaccard should be low for the quote pair")
    // set-reference agreement on real docs (both directions)
    val sub = docs.where(col("doc_id") < 60)
    val gotReal = Dedup.ngramContainmentPairs(sub, "text", "doc_id", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def grams(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+").toSeq
      (if (w.size >= 3) w.sliding(3).map(_.mkString(" ")).toSet
       else Set(w.mkString(" ")))
    }
    val texts = sub.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> grams(r.getString(1))).toMap
    val want = (for {
      (a, ga) <- texts.toSeq; (b, gb) <- texts.toSeq
      if a != b && ga.nonEmpty
      c = (ga & gb).size.toDouble / ga.size
      r6 = java.math.BigDecimal.valueOf(c)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if r6 >= 0.3
    } yield (a, b, r6)).toSet
    assert(gotReal == want,
      s"extra=${gotReal -- want} missing=${want -- gotReal}")
  }

  test("LSH candidate pairs cover the exact Jaccard pairs (recall)") {
    val exact = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = Dedup
      .minhashLshPairs(docs, "text", "doc_id", 8, 4, 3, 0.35)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // LSH verifies candidates with the same exact Jaccard, so it can
    // only MISS pairs, never invent them
    assert(lsh.subsetOf(exact))
    // with 4 bands of 2 rows at threshold .35 recall should be high
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.8,
      s"recall ${lsh.size}/${exact.size}")
  }

  test("hash-array verify equals text verify on identical candidates") {
    // the production verify representation (per-doc xxhash64
    // shingle-hash arrays, shingled once per doc) must yield the SAME
    // verified pairs and the SAME jaccard values as the portable
    // text-side representation (per-pair re-shingling) — the hash only
    // changes what rides the join, never the set arithmetic
    val banded = Dedup.lshBandIndex(docs, "text", "doc_id", 8, 4, 3, true)
    val l = banded.select(col("doc_id").as("id_a"), col("band"), col("bucket"))
    val r = banded.select(col("doc_id").as("id_b"), col("band"), col("bucket"))
    val candidates = l.join(r, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    def run(portable: Boolean): Set[(Long, Long, Double)] =
      Dedup.verifyJaccard(docs, "text", "doc_id", candidates, 3, 0.35,
        portableHash = portable)
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .toSet
    val portable = run(true)
    val hashed = run(false)
    assert(portable.nonEmpty, "degenerate fixture: no verified pairs")
    assert(hashed == portable)
  }

  test("embedding near-dup LSH: bucketed plan, no cartesian product") {
    val lsh = Dedup.embeddingNearDupLsh(
      emb, "embedding", "vec_id", threshold = 0.3, bits = 8)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"bucketed near-dup must not plan a cartesian product:\n$plan")
    // pairs it DOES emit agree with the exact path (same cosine verify)
    val exact = Dedup
      .embeddingNearDupPairs(emb, "embedding", "vec_id", threshold = 0.3)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = lsh
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got.subsetOf(exact))
  }

  test("mega-bucket cap keeps boilerplate from going quadratic") {
    // 60 identical docs (one mega-bucket) + 2 genuine near-dups.
    val boiler = (0L until 60L).map(i => (i, "the same boilerplate text " * 3))
    // differ only in the FINAL token → 9 of 11 shingles shared
    // (jaccard 0.82): a band match is near-certain for any hash
    // family, so the assertion tests the cap, not hash luck
    val pairDocs = Seq(
      (100L, "a unique document about distributed query planning topics with cost modeling"),
      (101L, "a unique document about distributed query planning topics with cost models")
    )
    val df = (boiler ++ pairDocs).toDF("doc_id", "text")
    val pairs = Dedup
      .minhashLshPairs(df, "text", "doc_id", 8, 4, 3,
        threshold = 0.35, maxBucket = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // the 60-doc bucket (60*59/2 = 1770 pairs) is dropped; the real
    // near-dup pair outside it survives
    assert(pairs == Set((100L, 101L)), s"got $pairs")
    // without the cap the boilerplate pairs dominate
    val uncapped = Dedup
      .minhashLshPairs(df, "text", "doc_id", 8, 4, 3,
        threshold = 0.35, maxBucket = 100000)
      .count()
    assert(uncapped > 1000)
  }

  test("incremental LSH: probing a persisted index equals batch-minus-corpus") {
    // the steady-state ingest shape: corpus deduped once, its band
    // index persisted; a new batch probes the index and must find
    // exactly the batch-touching pairs the full batch run would
    val corpus = docs.where(col("doc_id") < 250)
    val fresh = docs.where(col("doc_id") >= 250)
    val idxDir = tmpDir("graft-lshidx-")
    Dedup.lshBandIndex(corpus, "text", "doc_id", 8, 4)
      .write.mode("overwrite").partitionBy("band").parquet(idxDir)
    val (inc, capped) = Dedup.incrementalLshPairsDiag(
      fresh, "text", "doc_id",
      corpusBands = spark.read.parquet(idxDir),
      corpusTexts = corpus.select("doc_id", "text"),
      numHashes = 8, bands = 4, threshold = 0.35)
    val got = inc.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val want = Dedup
      .minhashLshPairs(docs, "text", "doc_id", 8, 4, 3, 0.35)
      .where(col("id_a") >= 250 || col("id_b") >= 250)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want, s"incremental != batch-minus-corpus: " +
      s"extra=${got -- want}, missing=${want -- got}")
    assert(want.nonEmpty, "fixture has no batch-touching pairs — vacuous")
    // plan shape: the index is probed via a BROADCAST semi-join (the
    // batch's bucket keys move to the index, never the reverse) and
    // nothing plans all-pairs. The pairs side localCheckpoints its
    // candidate frame (lineage truncated), so the probe is asserted
    // on the diag side, which shares the pre-checkpoint plan.
    capped.collect()
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"corpus index must be broadcast-semi-probed:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"all-pairs plan:\n$plan")
    // the verify stage fetches corpus TEXTS by candidate id: the
    // collected id set must reach the parquet text scan as a pushed
    // IN filter (row-group skipping — not a full corpus decode)
    val pairsPlan = inc.queryExecution.executedPlan.toString
    assert(pairsPlan.contains("In(doc_id"),
      s"candidate ids must push into the corpus text scan:\n$pairsPlan")
  }

  test("incremental LSH: text-fetch middle tier is a broadcast semi-join") {
    // above maxInLiteralIds (forced to 0 here) but under the fetch
    // gate, the candidate ids must prune the corpus text scan via a
    // BROADCAST semi-join of the candidate-id frame — O(1) plan size
    // instead of an n-ary IN literal (round-10 IN-literal gate probe:
    // at n=100k the IN plan costs 1.24 s planning / 2.99 s exec vs 0.46 s for
    // the semi-join) — and the result must be identical
    val corpus = docs.where(col("doc_id") < 250)
    val fresh = docs.where(col("doc_id") >= 250)
    val idxDir = tmpDir("graft-lshmid-")
    Dedup.lshBandIndex(corpus, "text", "doc_id", 8, 4)
      .write.mode("overwrite").partitionBy("band").parquet(idxDir)
    def run(maxIn: Long) = Dedup.incrementalLshPairs(
      fresh, "text", "doc_id",
      corpusBands = spark.read.parquet(idxDir),
      corpusTexts = corpus.select("doc_id", "text"),
      numHashes = 8, bands = 4, threshold = 0.35,
      maxInLiteralIds = maxIn)
    val mid = run(maxIn = 0L)
    val got = mid.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = run(maxIn = 1000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"tiers diverge: extra=${got -- want}, " +
      s"missing=${want -- got}")
    assert(want.nonEmpty, "no batch-touching pairs — vacuous")
    val plan = mid.queryExecution.executedPlan.toString
    assert(!plan.contains("In(doc_id"),
      s"middle tier must not build an IN literal:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate ids must broadcast-semi-prune the text fetch:\n$plan")
  }

  test("incremental LSH: forced text-fetch TOP tier equals the pushed tiers") {
    // regression (r19, found by the candidate-fetch probe): `gathered`
    // is TRUNCATED at maxPushedFetchIds+1, and the tier selection used
    // to test `gathered.length <= maxInLiteralIds` FIRST — so a gate
    // below maxInLiteralIds sent a truncated 2-id gather into the
    // IN-literal tier with an incomplete candidate list and silently
    // dropped every corpus-side text (pairs collapsed to the
    // batch-internal ones). Overflow must route to the envelope-fenced
    // full pass, and the answer must not change.
    val corpus = docs.where(col("doc_id") < 250)
    val fresh = docs.where(col("doc_id") >= 250)
    val idxDir = tmpDir("graft-lshtop-")
    Dedup.lshBandIndex(corpus, "text", "doc_id", 8, 4)
      .write.mode("overwrite").partitionBy("band").parquet(idxDir)
    def run(gate: Long) = Dedup.incrementalLshPairs(
      fresh, "text", "doc_id",
      corpusBands = spark.read.parquet(idxDir),
      corpusTexts = corpus.select("doc_id", "text"),
      numHashes = 8, bands = 4, threshold = 0.35,
      maxPushedFetchIds = gate)
    val top = run(gate = 1L)
    val got = top.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = run(gate = 100000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"top tier diverges: extra=${got -- want}, " +
      s"missing=${want -- got}")
    assert(want.nonEmpty, "no batch-touching pairs — vacuous")
    val plan = top.queryExecution.executedPlan.toString
    assert(!plan.contains("In(doc_id"),
      s"top tier must not build an IN literal:\n$plan")
  }

  test("incremental LSH: rolling ingest — probe, append bands, probe again") {
    // the full production cycle across TWO ingests: batch1 probes the
    // corpus index, its own bands are APPENDED to the index (the
    // maintenance step is just a partitioned parquet append), batch2
    // probes the grown index. The union of the two probes must equal
    // the one-shot batch run minus corpus-internal pairs — no pair
    // lost or invented across the index handoff.
    val corpus = docs.where(col("doc_id") < 250)
    val batch1 = docs.where(col("doc_id") >= 250 && col("doc_id") < 375)
    val batch2 = docs.where(col("doc_id") >= 375)
    val idxDir = tmpDir("graft-lshroll-")
    Dedup.lshBandIndex(corpus, "text", "doc_id", 8, 4)
      .write.mode("overwrite").partitionBy("band").parquet(idxDir)
    val pairs1 = Dedup.incrementalLshPairs(
      batch1, "text", "doc_id",
      corpusBands = spark.read.parquet(idxDir),
      corpusTexts = corpus.select("doc_id", "text"),
      numHashes = 8, bands = 4, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.lshBandIndex(batch1, "text", "doc_id", 8, 4)
      .write.mode("append").partitionBy("band").parquet(idxDir)
    val grown = corpus.unionByName(batch1)
    val pairs2 = Dedup.incrementalLshPairs(
      batch2, "text", "doc_id",
      corpusBands = spark.read.parquet(idxDir),
      corpusTexts = grown.select("doc_id", "text"),
      numHashes = 8, bands = 4, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup
      .minhashLshPairs(docs, "text", "doc_id", 8, 4, 3, 0.35)
      .where(col("id_a") >= 250 || col("id_b") >= 250)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((pairs1 ++ pairs2) == want,
      s"rolling != one-shot: extra=${(pairs1 ++ pairs2) -- want}, " +
        s"missing=${want -- (pairs1 ++ pairs2)}")
    // the two probes partition the batch-touching pairs: batch2 pairs
    // only ever come from probe 2
    assert(pairs1.intersect(pairs2).isEmpty)
  }

  test("incremental LSH: over-gate shared exchange equals recompute, " +
      "index scanned once") {
    // `minProbeExchangeRows` picks between re-probing the corpus index
    // per consumer (small batch) and materializing a batch-bound
    // REPARTITION_BY_COL exchange the tagged frame's consumers reuse
    // (crawl-sized batch). Force each branch and pin (a) identical
    // verified pairs and (b) the plans actually switch: over the gate
    // the probed index is served from dedicated shuffle stages and
    // each distinct PROJECTION of the index is scanned at most once
    // (column pruning legitimately splits the probe into a slim
    // band/bucket scan for the cap counts and a doc-carrying scan for
    // the pair join — two stages, each executed once, however many
    // consumers sit above); under the gate no repartition is planned
    // at all (re-probing beats a dedicated stage for small batches).
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val corpus = docs.where(col("doc_id") < 250)
    val fresh = docs.where(col("doc_id") >= 250)
    val idxDir = tmpDir("graft-lshgate-")
    Dedup.lshBandIndex(corpus, "text", "doc_id", 8, 4)
      .write.mode("overwrite").partitionBy("band").parquet(idxDir)
    // the candidate frame is localCheckpointed inside
    // incrementalFromBands (lineage truncated before the caller sees
    // it), so its executed plan is captured at the checkpoint action
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") captured.synchronized {
          captured += qe.executedPlan.toString
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def run(gate: Long): Set[(Long, Long, Double)] = {
        val newBands = Dedup.lshBandIndex(fresh, "text", "doc_id", 8, 4)
          .localCheckpoint(true)
        Dedup.incrementalFromBands(newBands,
          fresh.select("doc_id", "text"), "text", "doc_id",
          corpusBands = spark.read.parquet(idxDir),
          corpusTexts = corpus.select("doc_id", "text"),
          shingleWidth = 3, threshold = 0.35, maxBucket = 10000L,
          maxPushedFetchIds = 100000L, maxBroadcastProbeKeys = 4000000L,
          minProbeExchangeRows = gate)._1
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      }
      val shared = run(gate = 0L) // the branch a crawl-sized batch takes
      val recompute = run(gate = Long.MaxValue)
      assert(shared.nonEmpty, "no batch-touching pairs — vacuous")
      assert(shared == recompute, s"gate branches diverge: " +
        s"extra=${shared -- recompute}, missing=${recompute -- shared}")
      // listener delivery is async (listener bus) — wait for all four
      // checkpoint plans (2 runs × [banded batch, candidate frame])
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (captured.synchronized(captured.size) < 4 &&
          System.nanoTime() < deadline) Thread.sleep(50)
      val candPlans = captured.synchronized {
        captured.filter(_.contains("least")).toList
      }
      assert(candPlans.size == 2,
        s"expected 2 candidate-frame plans, got ${candPlans.size} of " +
          s"${captured.size} captures")
      // adaptive plans print the pre-execution plan after a
      // "== Initial Plan ==" marker — only the final section executed
      def finalSection(plan: String): String =
        plan.split("== Initial Plan ==")(0)
      def indexScans(plan: String): Int =
        finalSection(plan).linesIterator.count(_.contains("FileScan parquet"))
      def reused(plan: String): Int =
        finalSection(plan).linesIterator.count(_.contains("ReusedExchange"))
      def repartitions(plan: String): Int =
        finalSection(plan).linesIterator.count(_.contains("REPARTITION_BY_COL"))
      val (sharedPlan, recomputePlan) = (candPlans(0), candPlans(1))
      assert(repartitions(sharedPlan) == 2,
        s"over-gate branch must stage the probed index behind one " +
          s"repartition per projection:\n${finalSection(sharedPlan)}")
      assert(indexScans(sharedPlan) <= 2,
        s"over-gate branch must scan each index projection at most " +
          s"once:\n${finalSection(sharedPlan)}")
      assert(reused(sharedPlan) > 0,
        s"consumers must reuse exchanges, not recompute the probe:\n" +
          finalSection(sharedPlan))
      assert(repartitions(recomputePlan) == 0,
        s"under-gate branch must not plan a dedicated probe exchange:\n" +
          finalSection(recomputePlan))
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental LSH: combined-population cap, flooded bucket in diag") {
    // 60 identical docs SPLIT 30/30 across corpus and batch: neither
    // side alone exceeds maxBucket=10, so only the COMBINED count —
    // the batch-run-equivalent decision — can drop the bucket. A
    // genuine near-dup pair straddling the split must survive.
    val boilerCorpus = (0L until 30L).map(i => (i, "the same boilerplate text " * 3))
    val boilerNew = (30L until 60L).map(i => (i, "the same boilerplate text " * 3))
    val corpus = (boilerCorpus :+
      (100L, "a unique document about distributed query planning topics with cost modeling"))
      .toDF("doc_id", "text")
    val fresh = (boilerNew :+
      (101L, "a unique document about distributed query planning topics with cost models"))
      .toDF("doc_id", "text")
    val (pairs, capped) = Dedup.incrementalLshPairsDiag(
      fresh, "text", "doc_id",
      corpusBands = Dedup.lshBandIndex(corpus, "text", "doc_id", 8, 4),
      corpusTexts = corpus.select("doc_id", "text"),
      numHashes = 8, bands = 4, threshold = 0.35, maxBucket = 10)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)), s"got $got")
    // the drop is reported, not silent: every capped bucket counts
    // the combined 60-doc population
    val cappedRows = capped.collect()
    assert(cappedRows.nonEmpty, "flooded bucket missing from diag side")
    assert(cappedRows.forall(_.getAs[Long]("_n") == 60L),
      s"diag must count the COMBINED population: ${cappedRows.mkString(",")}")
  }

  test("incremental embedding near-dup equals batch-minus-corpus") {
    // the embedding twin of the incremental LSH identity: a new batch
    // probes the persisted bucket index and must find exactly the
    // batch-touching pairs the full batch run would
    val corpus = emb.where(col("vec_id") < 350)
    val fresh = emb.where(col("vec_id") >= 350)
    val idxDir = tmpDir("graft-embinc-")
    Ann.writeBucketedIndex(corpus, "embedding", "vec_id", idxDir, bits = 8)
    val (inc, capped) = Dedup.incrementalEmbeddingNearDupDiag(
      fresh, "embedding", "vec_id",
      corpusBuckets = spark.read.parquet(idxDir),
      threshold = 0.3, bits = 8, maxBucket = 1000L)
    val got = inc.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup
      .embeddingNearDupLsh(emb, "embedding", "vec_id",
        threshold = 0.3, bits = 8, maxBucket = 1000L)
      .where(col("id_a") >= 350 || col("id_b") >= 350)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "fixture has no batch-touching pairs — vacuous")
    assert(got == want, s"incremental != batch-minus-corpus: " +
      s"extra=${got -- want}, missing=${want -- got}")
    // plan shape: the index is probed via a BROADCAST semi-join (the
    // batch's bucket keys move to the index, never the reverse — and
    // the predicate prunes a bucket-partitioned index) and nothing
    // plans all-pairs
    capped.collect()
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"corpus bucket index must be broadcast-semi-probed:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"all-pairs plan:\n$plan")
  }

  test("incremental embedding near-dup: rolling probe, append, probe again") {
    // two ingests across the index handoff: batch1 probes, its bucket
    // rows append (a partitioned parquet append), batch2 probes the
    // grown index — the union must equal one-shot batch-minus-corpus
    val corpus = emb.where(col("vec_id") < 250)
    val batch1 = emb.where(col("vec_id") >= 250 && col("vec_id") < 375)
    val batch2 = emb.where(col("vec_id") >= 375)
    val idxDir = tmpDir("graft-embroll-")
    Ann.writeBucketedIndex(corpus, "embedding", "vec_id", idxDir, bits = 8)
    def probe(batch: org.apache.spark.sql.DataFrame) = Dedup
      .incrementalEmbeddingNearDup(batch, "embedding", "vec_id",
        corpusBuckets = spark.read.parquet(idxDir),
        threshold = 0.3, bits = 8, maxBucket = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs1 = probe(batch1)
    Ann.lshBuckets(batch1, "embedding", "vec_id", bits = 8)
      .write.mode("append").partitionBy("bucket").parquet(idxDir)
    val pairs2 = probe(batch2)
    val want = Dedup
      .embeddingNearDupLsh(emb, "embedding", "vec_id",
        threshold = 0.3, bits = 8, maxBucket = 1000L)
      .where(col("id_a") >= 250 || col("id_b") >= 250)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "no batch-touching pairs — vacuous")
    assert((pairs1 ++ pairs2) == want,
      s"rolling != one-shot: extra=${(pairs1 ++ pairs2) -- want}, " +
        s"missing=${want -- (pairs1 ++ pairs2)}")
    assert(pairs1.intersect(pairs2).isEmpty)
  }

  test("incremental semantic dedup equals one-shot restricted to the batch") {
    // the standing index holds EVERY seen doc (in SemDeDup the
    // dominator need not survive), cell-partitioned on disk; the
    // batch's admitted set must equal the one-shot rule over
    // corpus ∪ batch restricted to batch ids
    val corpus = emb.where(col("vec_id") < 350)
    val fresh = emb.where(col("vec_id") >= 350)
    val cents = corpus.where(col("vec_id") < 8)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    val idxDir = tmpDir("graft-semidx-")
    Ann.ivfAssignVectors(corpus, "embedding", "vec_id", cents)
      .select("vec_id", "embedding", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    val got = Dedup.incrementalSemanticDedup(fresh, "embedding", "vec_id",
        corpusCells = spark.read.parquet(idxDir), cents, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup
      .semanticDedup(emb, "embedding", "vec_id", (0L until 8L).toSeq,
        threshold = 0.3)
      .where(col("vec_id") >= 350)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"incremental != one-shot-restricted: " +
      s"extra=${got -- want}, missing=${want -- got}")
    val nBatch = fresh.count()
    assert(want.size < nBatch,
      "fixture dominates nothing — vacuous")
  }

  test("incremental exact dedup: corpus fingerprints win, batch canon by min id") {
    val corpus = Seq((500L, "the standing corpus document")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "The  standing corpus DOCUMENT"), // normalizes to the corpus fp → dropped
      (20L, "a new batch document"),
      (21L, "A NEW batch  document"), // same normalized content as 20 → dropped
      (30L, "something else entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExactDedup(
      fresh, "text", "doc_id", Dedup.fingerprintIndex(corpus, "text"))
    assert(out.columns.toSeq == Seq("doc_id", "text"), "schema preserved")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(20L, 30L), s"survivors $ids")
  }

  test("curateIncremental: corpus wins side-aware, min id wins in batch") {
    // ids chosen so ID ORDER CONTRADICTS the sides: the batch doc (10)
    // is smaller than its corpus near-dup partner (500) — a naive
    // "drop the greater id" would keep the batch doc and evict the
    // standing corpus doc. The rule must be side-aware.
    val base = "the system reads the data and the index stores the " +
      "results and the pipeline writes the tables and the queries scan " +
      "the segments while the workers merge the"
    val corpus = Seq((500L, s"$base output")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, s"$base outputs"), // near-dups corpus 500 → dropped
      (20L, s"unique first batch document where the engine and the planner choose the join order and the broadcast side for the query"),
      (21L, s"unique first batch document where the engine and the planner choose the join order and the broadcast side for the queries"), // near-dups 20 → dropped
      (30L, s"entirely different content where the scheduler and the executor exchange the shuffle blocks and the reducer combines the partial sums")
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Curation.curateIncremental(
      fresh, "text", "doc_id",
      corpusBands = Dedup.lshBandIndex(corpus, "text", "doc_id", 8, 4),
      corpusTexts = corpus,
      minQuality = 0.0, minTokens = 1,
      numHashes = 8, bands = 4, threshold = 0.35)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(20L, 30L), s"survivors $ids")
  }

  test("connected components: chain, triangle, singleton-free") {
    // chain 1-2-3-4 (diameter 3: exercises multi-round propagation),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val comp = Dedup
      .connectedComponents(pairs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L
    ))
    // survivors: min of each component + docs in no pair
    val docs = (1L to 4L) ++ (10L to 12L) ++ Seq(20L, 21L, 99L)
    val surv = Dedup
      .clusterSurvivors(docs.toDF("doc_id"), "doc_id", pairs)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(surv == Set(1L, 10L, 20L, 99L))
  }

  test("connected components: diameter beyond the old iteration cap " +
      "converges (large-star/small-star), exhaustion fails loudly") {
    // A 61-node path (diameter 60) — deeper than round-10's
    // min-label-propagation cap of 20 rounds, where the old code
    // silently returned SPLIT components. Star contraction needs
    // ~log2(61) alternation rounds, so the default cap is generous.
    // localThreshold = 0 forces the DISTRIBUTED star-contraction loop
    // (the default would resolve 60 edges on the driver fast path)
    val chain = (1L until 61L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup
      .connectedComponents(chain, localThreshold = 0L)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(comp.size == 61)
    assert(comp.values.forall(_ == 1L),
      s"split components: ${comp.values.toSet}")
    // Exhausting maxIter REFUSES instead of returning wrong clusters.
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1, localThreshold = 0L)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // The FAST PATH on a deep chain: 20k-node path through the driver
    // union-find (default threshold) — the iterative find must absorb
    // whatever edge order the distinct() shuffle produces without
    // deep recursion, and still label everything 0
    val deep = spark.range(19999L)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val deepComp = Dedup.connectedComponents(deep)
      .agg(org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.max("component"))
      .collect().head
    assert(deepComp.getLong(0) == 20000L && deepComp.getLong(1) == 0L)
    // Self-loop-only nodes keep the one-row-per-mentioned-node
    // contract — on BOTH paths
    val withSelf = Seq((5L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    for (thr <- Seq(0L, 100000L)) {
      val selfComp = Dedup
        .connectedComponents(withSelf, localThreshold = thr)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(selfComp == Map(5L -> 5L, 7L -> 7L, 8L -> 7L), s"thr=$thr")
    }
  }

  test("quality-aware survivors: best-of-cluster, ties by lowest id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // cluster {1,2,3}: 2 has the best score; cluster {10,11}: tied →
    // lowest id (10); 99 unclustered → survives regardless of score
    val docs = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.7),
      (10L, 0.4), (11L, 0.4),
      (99L, 0.0)
    ).toDF("doc_id", "score")
    val surv = Dedup
      .clusterSurvivorsBest(docs, "doc_id", pairs, "score")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(surv == Set(2L, 10L, 99L))
  }

  test("repeated-span removal: cross-doc and within-doc spans stripped exactly") {
    val corpus = Seq(
      (1L, "a b c d e x1 y1"), // shares "a b c d e" with doc 2
      (2L, "z1 a b c d e w1"),
      (3L, "unique words only here now"),
      (4L, ""), // empty: survives untouched
      (5L, "p q r s t u p q r s t") // within-doc repeat of "p q r s t"
    ).toDF("doc_id", "text")
    // both rebuild legs (gate default = narrow collected-dict
    // expression; gate 0 = the over-gate join leg) must agree exactly
    for (gate <- Seq(1000000L, 0L)) {
      val got = Dedup
        .stripRepeatedSpans(corpus, "text", "doc_id", width = 5,
          maxBroadcastKeys = gate)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
      assert(got(1L) == (("x1 y1", 5L)), s"gate=$gate")
      assert(got(2L) == (("z1 w1", 5L)), s"gate=$gate")
      assert(got(3L) == (("unique words only here now", 0L)), s"gate=$gate")
      assert(got(4L) == (("", 0L)), s"gate=$gate")
      // both occurrences of the within-doc span are covered; only the
      // separator token survives
      assert(got(5L) == (("u", 10L)), s"gate=$gate")
    }
  }

  test("multi-tier span removal: per-width thresholds compose exactly") {
    // tier (8, ≥2): any repeated 8-gram — catches the quote docs 1+2
    // share, whose 5-subgrams repeat only 2× (under tier 5's bar).
    // tier (5, ≥3): heavy boilerplate — catches "m n o p r" (4
    // occurrences across docs 3/4/5), which no 8-gram tier can see.
    // docs 6+7 share a 5-gram only 2× — BOTH tiers leave it: the
    // aggressive threshold is the point (moderate quoting survives)
    val corpus = Seq(
      (1L, "q1 a b c d e f g h t1"),
      (2L, "q2 a b c d e f g h t2"),
      (3L, "m n o p r x3"),
      (4L, "y4 m n o p r"),
      (5L, "m n o p r z5 m n o p r"),
      (6L, "u v w j k s6"),
      (7L, "t7 u v w j k")
    ).toDF("doc_id", "text")
    val got = Dedup
      .stripRepeatedSpansMulti(corpus, "text", "doc_id",
        tiers = Seq(5 -> 3L, 8 -> 2L))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(1L) == (("q1 t1", 8L)))
    assert(got(2L) == (("q2 t2", 8L)))
    assert(got(3L) == (("x3", 5L)))
    assert(got(4L) == (("y4", 5L)))
    assert(got(5L) == (("z5", 10L))) // both within-doc occurrences covered
    assert(got(6L) == (("u v w j k s6", 0L)))
    assert(got(7L) == (("t7 u v w j k", 0L)))
    // the over-gate join leg must agree exactly with the narrow leg
    val joined = Dedup
      .stripRepeatedSpansMulti(corpus, "text", "doc_id",
        tiers = Seq(5 -> 3L, 8 -> 2L), maxBroadcastKeys = 0L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(joined == got)
  }

  test("line dedup: cross-doc lines removed, blanks and unique lines kept") {
    val corpus = Seq(
      (1L, "cookie banner\nreal content one\n\ntail one"),
      (2L, "cookie banner\nreal content two\n\ntail two"),
      (3L, "  cookie banner  \nonly unique here"), // trim-matched dup
      (4L, ""), // empty doc: one blank line, survives untouched
      (5L, "solo doc\nsolo doc") // within-doc repeat, ONE distinct doc
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(corpus, "text", "doc_id", minDocs = 2)
    // the counted-small dup dictionary must take the NARROW rebuild
    // leg (the gate's whole point): the collected dict rides the
    // rewrite expression, so the rebuild side has no join, no
    // exchange, no re-aggregation of lines at all
    val planStr = out.queryExecution.executedPlan.toString
    assert(planStr.contains("dedup_lines_rewrite"),
      s"small dup dictionary should take the narrow rewrite leg:\n$planStr")
    for (bad <- Seq("Join", "Exchange", "Aggregate"))
      assert(!planStr.contains(bad),
        s"unexpected $bad in the narrow rebuild plan:\n$planStr")
    val got = out
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == (("real content one\n\ntail one", 4L, 1L)))
    assert(got(2L) == (("real content two\n\ntail two", 4L, 1L)))
    // the padded variant matches on trimmed text and is removed too
    assert(got(3L) == (("only unique here", 2L, 1L)))
    assert(got(4L) == (("", 1L, 0L)))
    // df counts DISTINCT docs: a within-doc repeat is not corpus dup
    assert(got(5L) == (("solo doc\nsolo doc", 2L, 0L)))
  }

  test("reflowLines: fixed-width lines, remainder tail, empty text") {
    val in = Seq(
      (1L, "a b c d e f g h i j"), // 10 toks @ width 4 → 4+4+2
      (2L, "a b c d"), // exact multiple: one line, no trailing newline
      (3L, "  Mixed   CASE  spacing "), // normalized like tokens()
      (4L, "")
    ).toDF("id", "t")
    val got = in
      .select(col("id"), TextFunctions.reflowLines(col("t"), 4).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a b c d\ne f g h\ni j")
    assert(got(2L) == "a b c d")
    assert(got(3L) == "mixed case spacing")
    assert(got(4L) == "")
  }

  test("exact dedup: survivors + duplicates partition the corpus") {
    val n = docs.count()
    val survivors = Dedup.exactDedup(docs, "text", "doc_id").count()
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
    assert(groups.agg(sum("n_docs")).collect()(0).getLong(0) == n)
    assert(groups.count() == survivors)
  }

  test("simhash: near-identical docs have close fingerprints") {
    val df = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "completely different words about spark engines here")
    ).toDF("id", "text")
    val hs = Dedup
      .simhash32(df, "text", "id")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(0L), hs(1L)) < hamming(hs(0L), hs(2L)))
  }

  test("batched top-k agrees with per-query brute force for every query") {
    val queries = emb.where($"vec_id" < 4)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      .sortBy(_._1)
    val batch = Ann.cosineTopKBatch(emb, "embedding", "vec_id", queries, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    queries.foreach { case (qid, qv) =>
      val single = Ann.cosineTopK(emb, "embedding", "vec_id", qv, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = batch(qid)
        .sortBy(t => (1.0 - t._3, t._2)).map(t => (t._2, t._3)).toSeq
      assert(got == single, s"query $qid: $got != $single")
    }
  }

  test("batched top-k plan: one shuffle on query_id, never SinglePartition") {
    val queries = emb.where($"vec_id" < 4)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      .sortBy(_._1)
    val batch = Ann.cosineTopKBatch(emb, "embedding", "vec_id", queries, 10)
    batch.collect()
    // AQE's toString prints final AND initial plans — final section only
    val plan = batch.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the per-partition heaps are narrow; the only shuffle is the
    // final per-query candidate merge, hash-partitioned on query_id —
    // a SinglePartition here would funnel Q × P candidate rows
    // through one reducer at cluster scale
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, plan:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"final merge must not single-partition:\n$plan")
  }

  test("hammingPairs: exact recall vs brute force under the pigeonhole bound") {
    // 32-bit hashes engineered across the distance spectrum
    val hs = Seq(
      (1L, 0x00000000L), (2L, 0x00000001L), // d=1
      (3L, 0x00000003L), // d(1,3)=2, d(2,3)=1
      (4L, 0x0F0F0F0FL), // far from 1-3
      (5L, 0x0F0F0F0EL), // d(4,5)=1
      (6L, 0xFFFFFFFFL) // far from all
    ).toDF("id", "h")
    val got = Dedup.hammingPairs(hs, "h", "id", maxHamming = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force model over all 15 pairs
    val raw = Seq(1L -> 0x00000000L, 2L -> 0x00000001L, 3L -> 0x00000003L,
      4L -> 0x0F0F0F0FL, 5L -> 0x0F0F0F0EL, 6L -> 0xFFFFFFFFL)
    val expect = (for {
      (ia, ha) <- raw; (ib, hb) <- raw if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 2
    } yield (ia, ib, d.toLong)).toSet
    assert(got == expect, s"got $got expect $expect")
    // the pigeonhole precondition is enforced
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(hs, "h", "id", maxHamming = 4, bands = 4)
    }
    // IntegerType hashes with the sign bit set: the 32-bit mask keeps
    // bit_count honest (sign extension would report 33, not 1)
    val intHs = Seq((1L, 0x7FFFFFFE), (2L, 0xFFFFFFFE.toInt))
      .toDF("id", "h")
    val ip = Dedup.hammingPairs(intHs, "h", "id", maxHamming = 1, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ip.toSeq == Seq((1L, 2L, 1L)), ip.toSeq.toString)
  }

  test("hammingPairs 64-bit: exact recall vs brute force, full long range") {
    // fingerprints engineered across the 64-bit distance spectrum,
    // including the sign bit (bit 63) and pairs straddling it
    val raw = Seq(
      1L -> 0x0000000000000000L,
      2L -> 0x0000000000000001L, // d(1,2)=1
      3L -> 0x8000000000000000L, // sign bit only: d(1,3)=1
      4L -> 0x8000000000000003L, // d(3,4)=2, d(2,4)=2
      5L -> 0x0F0F0F0F0F0F0F0FL, // far from all
      6L -> 0xFFFFFFFFFFFFFFFFL) // far from all
    val hs = raw.toDF("id", "h")
    val got = Dedup
      .hammingPairs(hs, "h", "id", maxHamming = 3, bands = 4, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (for {
      (ia, ha) <- raw; (ib, hb) <- raw if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(got == expect, s"got $got expect $expect")
    // bands must divide the width
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(hs, "h", "id", maxHamming = 2, bands = 3, bits = 64)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(hs, "h", "id", maxHamming = 2, bands = 4, bits = 48)
    }
  }

  test("simhash64: near-identical docs close, bit63 reachable, 32-bit prefix consistent") {
    val df = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "completely different words about spark engines here")
    ).toDF("id", "text")
    val hs = Dedup.simhash64(df, "text", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(0L), hs(1L)) < hamming(hs(0L), hs(2L)))
    // the HIGH 32 bits ARE simhash32 (md5 chars 1–8 are the hi half,
    // same votes): the widened fingerprint refines, never
    // contradicts, the 32-bit tier
    val hs32 = Dedup.simhash32(df, "text", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hs.keys.foreach { id =>
      assert((hs(id) >>> 32) == hs32(id),
        s"id $id: hi32(simhash64)=${hs(id) >>> 32} != simhash32=${hs32(id)}")
    }
  }

  test("hammingPairsDiag: the cap drop is reported, not silent") {
    // engineered flood: 8 ids share ONE fingerprint (every band bucket
    // holds 8 rows) plus one distinct near pair; cap at 5 — the flood
    // is excluded from pairing AND surfaced as 4 oversized buckets
    val flood = (1L to 8L).map(_ -> 0x00000000L)
    val pair = Seq(100L -> 0x0F0F0F0FL, 101L -> 0x0F0F0F0EL)
    val hs = (flood ++ pair).toDF("id", "h")
    val (pairs, capped) = Dedup.hammingPairsDiag(
      hs, "h", "id", maxHamming = 2, bands = 4, maxBucket = 5)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)), got.toString) // flood pairs dropped
    val cap = capped.collect()
      .map(r => (r.getAs[Int]("_band"), r.getAs[Long]("_bits"),
        r.getAs[Long]("_n"))).toSet
    // the all-zero fingerprint floods bucket 0 of every band, 8 rows each
    assert(cap == (0 until 4).map(b => (b, 0L, 8L)).toSet, cap.toString)
    // the uncapped run pairs the flood (exact recall restored): 8C2 + 1
    val all = Dedup.hammingPairs(hs, "h", "id", maxHamming = 2, bands = 4)
    assert(all.count() == 28 + 1)
  }

  test("fingerprint cluster chain: cap diagnostic propagates and is enforced") {
    // identical texts → identical fingerprints → every band bucket of
    // the flood holds 6 rows; cap at 5
    val texts = (1L to 6L).map(id => (id, "alpha beta gamma delta epsilon")) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog"),
        (101L, "the quick brown fox jumps over the lazy cat"))
    val df = texts.toDF("doc_id", "text")
    // Diag variant: the flooded buckets surface WITH their row counts
    val (_, capped) = Dedup.fingerprintClustersDiag(
      df, "text", "doc_id", maxHamming = 2, bands = 4, maxBucket = 5,
      bits = 32)
    val cap = capped.collect()
      .map(r => (r.getAs[Int]("_band"), r.getAs[Long]("_n")))
    // one flooded bucket per band; 100/101 may coincidentally share it
    assert(cap.length == 4 && cap.forall { case (_, n) => n >= 6L },
      cap.mkString(","))
    // the checked production entry REFUSES the same run at call time
    val e = intercept[IllegalStateException] {
      Dedup.fingerprintClusters(df, "text", "doc_id",
        maxHamming = 2, bands = 4, maxBucket = 5, bits = 32)
    }
    assert(e.getMessage.contains("maxBucket"))
    // with headroom the chain returns and the identical docs cluster
    val ok = Dedup.fingerprintClusters(df, "text", "doc_id",
      maxHamming = 2, bands = 4, maxBucket = 100, bits = 32)
    val flood = ok.collect().filter(_.getLong(0) <= 6L)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(flood.toSet == (1L to 6L).map(_ -> 1L).toSet, flood.mkString(","))
    // and the chain is exactly the manual simhash → pairs → CC plan
    val manual = Dedup.connectedComponents(
      Dedup.hammingPairs(
        Dedup.simhash32(df, "text", "doc_id").toDF("id", "h"),
        "h", "id", maxHamming = 2, bands = 4).select("id_a", "id_b"))
    assert(ok.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      manual.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // curateNear inherits the refusal: 6 copies of the corpus flood
    // every gated fingerprint's buckets past the cap
    val six = (1 to 6).map(_ => docs).reduce(_ union _)
    intercept[IllegalStateException] {
      graft.pipeline.Curation.curateNear(six, "text", "doc_id",
        maxTokens = 5000, maxHamming = 2, bands = 4, maxBucket = 5,
        bits = 32)
    }
  }

  test("media phash: deterministic, content-sensitive, corrupt flagged") {
    import graft.multimodal.Multimodal.FakeCodec
    val base = Array.tabulate(64)(i => (i * 3 % 251).toByte)
    val nearDup = base.clone(); nearDup(5) = (nearDup(5) + 120).toByte
    val different = Array.tabulate(64)(i => (250 - i * 7 % 251).toByte)
    val media = Seq(
      (1L, FakeCodec.encode(8, 8, 1, base)),
      (2L, FakeCodec.encode(8, 8, 1, base)), // identical content
      (3L, FakeCodec.encode(8, 8, 1, nearDup)), // one byte off
      (4L, FakeCodec.encode(8, 8, 1, different)),
      (5L, Array[Byte](1, 2, 3)) // corrupt
    ).toDF("id", "media")
    val got = graft.multimodal.Multimodal.phash32(media)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(got(1L) == got(2L)) // identical content, identical hash
    assert(ham(got(1L)._1, got(3L)._1) <= 2) // near-dup: tiny distance
    assert(ham(got(1L)._1, got(4L)._1) > ham(got(1L)._1, got(3L)._1))
    assert(got(5L) == ((0L, true))) // corrupt flagged, not failed
  }

  test("grid phash sees the whole plane: prefix-blind content is caught") {
    import graft.multimodal.Multimodal.FakeCodec
    // two 8×8 planes IDENTICAL in the first 32 bytes, wildly different
    // after: a prefix hash (bytes 0..31 vs their mean — the retired
    // construction) cannot tell them apart by construction on the bit
    // positions it reads; the grid hash covers every cell of the plane
    val a = Array.tabulate(64)(i => (i % 17).toByte)
    val b = a.clone()
    (32 until 64).foreach(i => b(i) = ((i * 7 + 3) % 97 + 100).toByte)
    val media = Seq(
      (1L, FakeCodec.encode(8, 8, 1, a)),
      (2L, FakeCodec.encode(8, 8, 1, b))
    ).toDF("id", "media")
    val g32 = graft.multimodal.Multimodal.phash32(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g32(1L) != g32(2L), "8×4 grid must separate suffix-divergent planes")
    val g64 = graft.multimodal.Multimodal.phash64(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g64(1L) != g64(2L), "8×8 grid must separate suffix-divergent planes")
    // and the 64-bit hash pairs through the shared Hamming machinery
    val hs = g64.toSeq.toDF("id", "h")
    val pairs = Dedup
      .hammingPairs(hs, "h", "id", maxHamming = 3, bands = 4, bits = 64)
      .count()
    assert(pairs == 0) // suffix-divergent planes are NOT near-dups
  }

  test("ANN: LSH top-k scores are a subset of brute-force ranking") {
    val q = emb.where($"vec_id" === 0).select("embedding")
      .collect()(0).getSeq[Float](0)
    val exact = Ann.cosineTopK(emb, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(exact.head == 0L) // the query vector is its own best match
    val bucketed = Ann.lshBuckets(emb, "embedding", "vec_id", 8)
    val approx = Ann
      .lshTopK(bucketed, "embedding", "vec_id", q, 10, 8, probeHamming = 2)
      .collect()
      .map(_.getLong(0))
      .toSeq
    assert(approx.contains(0L)) // its own bucket always probed
    // multi-probe at hamming<=2 over 8 bits covers 37/256 buckets;
    // recall vs exact top-10 should be non-trivial
    val recall = exact.toSet.intersect(approx.toSet).size / 10.0
    assert(recall >= 0.3, s"recall $recall")
  }

  test("multimodal: decode/resize/frame-sample plumbing") {
    val media = Multimodal.synthesize(spark, docs.limit(50), "doc_id")
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 50 && feats.forall(_.format == "grft"))
    // resize halves width; re-decode sees the new header
    val resized = Multimodal.resize(media, 2)
    val rf = Multimodal.extractFeatures(resized).collect()
    assert(rf.forall(_.width == 2))
    // frame sampling emits <= frames rows per media item
    val frames = Multimodal.sampleFrames(media, 1)
    val byId = frames.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.values.forall(n => n >= 1 && n <= 3))
    // corrupt blob does not kill the job
    val corrupt = Seq((99L, Array[Byte](1, 2, 3))).toDF("id", "media")
    val cf = Multimodal.extractFeatures(corrupt).collect()
    assert(cf.head.format == "corrupt")
    // hostile headers: negative dims decode as corrupt; an absurd
    // frame count over a tiny payload emits DATA-bounded rows, never
    // header-bounded ones (a 2^31-frame claim must not explode one
    // row into billions of generated frames)
    val negDims = Seq(
      (100L, Multimodal.FakeCodec.encode(-4, 4, 1, Array[Byte](1, 2))))
      .toDF("id", "media")
    assert(Multimodal.extractFeatures(negDims).collect().head.format == "corrupt")
    val frameBomb = Seq(
      (101L, Multimodal.FakeCodec.encode(4, 4, Int.MaxValue,
        Array.fill(8)(7.toByte)))).toDF("id", "media")
    val bombRows = Multimodal.sampleFrames(frameBomb, 1).count()
    assert(bombRows <= 8, s"frame bomb emitted $bombRows rows")
  }

  test("dedup guards refuse silent-corruption inputs loudly") {
    import spark.implicits._
    // string ids would cast to NULL and clustering would silently
    // no-op — ship the corpus with every near-dup retained
    val strPairs = Seq(("doc-1", "doc-2")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(strPairs)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // shingleWidth <= 0 would collapse the whole corpus into one
    // duplicate cluster (every shingle set becomes [""])
    intercept[IllegalArgumentException] { Dedup.shingles(col("text"), 0) }
    intercept[IllegalArgumentException] {
      Dedup.minhashSignatures(Seq((1L, "a b c")).toDF("id", "text"),
        "text", "id", 4, shingleWidth = 0)
    }
  }

  test("cosineTopKBatch tolerates null vectors like cosineTopK") {
    import spark.implicits._
    import graft.similarity.Ann
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, null.asInstanceOf[Array[Float]]),
      (2L, Array(0.6f, 0.8f)), (3L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Ann
      .cosineTopKBatch(emb, "embedding", "vec_id", Seq(7L -> Seq(1f, 0f)), 3)
      .orderBy(col("score").desc)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // the null-vector row simply never ranks; everything else does
    assert(got.map(_._1) == Seq(0L, 2L, 3L), got.toString)
    assert(got.head._2 == 1.0)
  }
}
