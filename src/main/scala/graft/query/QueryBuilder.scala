package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.QueryPlan

/** Lowers a folded [[graft.core.QueryPlan]] onto a DataFrame pipeline.
  *
  * The reference applies its specs imperatively per-`Next`
  * (offset2/qry.go:101-189); here each spec becomes a declarative
  * relational operator and Catalyst does the physical work. Over a
  * `graft-log` frame ([[graft.storage.ParquetLog.toDF]]):
  *
  *   - seq bounds → `filter` → exact seq bounds in the scan
  *     (`PushedFilters`): whole segments are pruned from the manifest
  *     and the reader cuts the boundary ones, with no residual filter
  *     — the reference's cursor seek (offset2/qry.go:35-69)
  *   - order + limit → top-N by seq, folded by
  *     [[graft.sources.GraftLogScanBuilder.pushTopN]] into the seq
  *     bounds themselves: dense seqs make the first (or, reversed, the
  *     last) `n` rows of a range a smaller range, so the plan keeps no
  *     Sort and no Limit, and a reverse scan emits its partitions and
  *     rows in descending order (offset2/qry.go:86-108); note we
  *     implement the CORRECT reverse-with-bounds composition (the
  *     reference has a known bug here, test/simple.go:198-213 /
  *     issue #6)
  *   - order without a limit → a shuffle-free ordered drain
  *     ([[graft.plans.OrderedLogScan]])
  *   - seqWrap → projection: keep `(seq, value)` vs `value` only
  *     (seqwrap.go:8-34)
  *
  * The scan's row count is then exact before any IO. Collecting a
  * query of at most [[graft.plans.OrderedLogScan.DriverCollectMaxRows]]
  * rows runs no Spark job: the segment pages that hold the range are
  * read on the driver ([[graft.plans.DriverLogCollectExec]]), the
  * in-process pull of offset2/qry.go. Other backends (a [[graft
  * .storage.MemLog]], a sublog's rank frame) run the same operators
  * through Spark's own planning.
  *
  * Nulled entries flow through queries as rows with
  * `nulled = true, value = null` — the reference's "error as a value"
  * stream semantics (offset2/qry.go:159-162) without poisoning the
  * stream.
  */
object QueryBuilder {

  def build(df: DataFrame, plan: QueryPlan): DataFrame = {
    var out = bounded(df, plan)
    out =
      if (plan.reverse) out.orderBy(col("seq").desc)
      else out.orderBy(col("seq").asc)
    if (plan.limit >= 0) out = out.limit(clampLimit(plan.limit))
    project(out, plan)
  }

  /** Streaming variant: no orderBy/limit (Spark disallows them on
    * unaggregated streams); ordering is by seq within the micro-batch
    * sink, limit is enforced by the push-mode adapter
    * ([[graft.live.LiveTail]]). */
  def buildStreaming(df: DataFrame, plan: QueryPlan): DataFrame =
    project(bounded(df, plan), plan)

  private def bounded(df: DataFrame, plan: QueryPlan): DataFrame = {
    var out = df
    plan.lower.foreach(l => out = out.where(col("seq") >= l))
    plan.upper.foreach(u => out = out.where(col("seq") < u))
    out
  }

  private def project(df: DataFrame, plan: QueryPlan): DataFrame =
    if (plan.seqWrap) df.select("seq", "value", "nulled")
    else df.select("value", "nulled")

  private def clampLimit(n: Long): Int =
    if (n > Int.MaxValue) Int.MaxValue else n.toInt
}
