package graft

/** Pins the r20 plan-audit justification for the three deliberate
  * semantic-dedup SortMergeJoins (q76 / q115 / q128): the cell
  * self-join cannot broadcast a 100 TB corpus at PLAN time, so the
  * static plan shows SMJ — the claim was that AQE converts the
  * small-side joins to broadcast AT RUNTIME. This spec executes each
  * query and asserts the FINAL adaptive plan contains no
  * SortMergeJoin (OPTIMIZATION_r21.md measured SMJ=0 / BHJ>0 on
  * sf0.001 and sf0.01), so a regression that silently pins the static SMJ shape
  * at runtime fails loudly instead of surviving as a justified flag.
  */
class AqePlanSpec extends SparkSpec {

  private def finalJoins(q: String): (Int, Int) = {
    val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    assert(whole.contains("isFinalPlan=true"),
      s"$q did not re-optimize adaptively")
    // AdaptiveSparkPlanExec.toString prints Final Plan then Initial
    // Plan — only the final section is the runtime shape
    val fin = whole.split("== Initial Plan ==")(0)
    ("SortMergeJoin".r.findAllIn(fin).length,
      "BroadcastHashJoin".r.findAllIn(fin).length)
  }

  for (q <- Seq("q76_semantic_dedup", "q115_incremental_semantic",
      "q128_contrastive_pairs"))
    test(s"$q: AQE converts the planned SortMergeJoins to broadcast " +
        "at runtime") {
      val (smj, bhj) = finalJoins(q)
      assert(smj == 0,
        s"$q kept $smj SortMergeJoin(s) in its final adaptive plan")
      assert(bhj > 0, s"$q final plan lost its joins entirely — vacuous")
    }
}
