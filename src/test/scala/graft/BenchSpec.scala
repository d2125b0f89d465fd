package graft

import java.nio.file.{Files, Paths}

/** The measurement entry point's contract without timing anything:
  * the case list is the benchmark's key set (names and order are what
  * every BENCH capture is compared by), and `--plans` resolves both
  * bench cases and oracle query names to formatted plans. */
class BenchSpec extends SparkSpec {

  test("the bench runs 49 named cases in a fixed order") {
    val names = new Bench.Cases(spark, "unused", "unused").all.map(_.name)
    assert(names == Seq(
      "append_events", "seq_scan", "seq_scan_connector", "value_drain",
      "ordered_drain", "map_drain", "datetime_drain", "bounded_scan",
      "point_reads_100", "point_reads_batched", "reverse_top100",
      "multilog_build", "kvindex_build", "sublog_rank_read", "agg_pricing",
      "join_revenue", "window_rank", "sort_topk", "text_stats",
      "repetition_stats", "dsir_weights", "dsir_score_batch",
      "repetition_gate", "eval_decontaminate", "minhash_sigs", "lsh_pairs",
      "incremental_lsh", "incremental_exact", "fingerprint_ingest",
      "boilerplate_ingest", "minor_compact", "small_append", "simhash",
      "simhash64", "hamming64_pairs", "ann_bruteforce", "batch_topk",
      "ivf_topk_batch", "pq_topk_batch", "embed_neardup_lsh",
      "decontaminate", "boilerplate", "quality_gate", "unigram_lm",
      "line_dedup", "zorder_write", "kmv_profile", "live_tail_roundtrip",
      "live_tail_delivery"))
  }

  test("--plans writes one plan per bench case or oracle query name") {
    val out = tmpDir("bench-plans-")
    val names = Seq("agg_pricing", "lsh_pairs", "q13_join_revenue")
    Bench.dispatch(spark, "/root/testdata/sf0.001",
      List("--plans", out, "", names.mkString(",")))
    assert(Files.list(Paths.get(out)).count() == names.size)
    names.foreach { n =>
      val plan = new String(Files.readAllBytes(Paths.get(out, s"$n.txt")),
        "UTF-8")
      assert(plan.contains("== Physical Plan =="), s"$n: $plan")
      assert(!plan.contains("<failed"), s"$n: $plan")
    }
  }
}
