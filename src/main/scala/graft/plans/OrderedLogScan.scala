package graft.plans

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeReference, Descending, ExprId,
  SortOrder, UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LogicalPlan, Project, ReturnAnswer, Sort
}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{
  SQLExecution, SortExec, SparkPlan, SparkStrategy, UnaryExecNode
}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.sources.GraftLogScan

/** Planner strategy: a GLOBAL sort by `seq` over a graft-log scan is
  * a no-op (ascending) or a partition reversal (descending) — never a
  * shuffle.
  *
  * The connector plans one partition per packed run of adjacent
  * segments, in ascending seq order, disjoint in seq range, each
  * internally seq-sorted (segments are written
  * `sortWithinPartitions(seq)`; packing preserves manifest order).
  * So the scan's output already IS the global ascending order under
  * Spark's partition-index contract (collect/limit/write consume
  * partitions in index order), and Spark's default plan for
  * `orderBy(seq)` — a RangePartitioning Exchange plus per-partition
  * sort, i.e. a full-log shuffle at 100 TB — does pure redundant
  * work. The reference gets the same property from its offset file:
  * a log IS its seq order (offset2/qry.go:86-99 walks it directly).
  *
  * The strategy fires only on trees it can prove order-preserving:
  * `Sort(seq)` over any chain of Project/Filter (narrow, 1:1
  * partition-preserving) over a single graft-log DSv2 relation, with
  * the sort key resolving (through aliases) to the scan's own `seq`
  * attribute. Everything else falls through to Spark's planner.
  * Top-N (`orderBy(seq).limit(n)`) never reaches here — the scan
  * builder's [[graft.sources.GraftLogScanBuilder.pushTopN]] folds it
  * into seq bounds at pushdown time.
  *
  *   - ascending: the Sort is DROPPED — [[SeqOrderedDrainExec]] just
  *     passes the child through, declaring `outputOrdering` so a
  *     downstream merge join doesn't re-sort.
  *   - descending: partition INDEX order is reversed (a zero-copy RDD
  *     remap, [[ReversePartitionsExec]]) and each partition is
  *     locally sorted desc (spillable [[SortExec]], no Exchange) —
  *     global descending order without moving a row between
  *     executors.
  *
  * A second case answers SMALL collects on the driver: at the plan
  * root (`ReturnAnswer`), a graft-log scan under projections of its
  * own columns and at most one sort by its `seq` — the shapes
  * [[graft.query.QueryBuilder]] builds — whose exact row count
  * ([[GraftLogScan.exactRows]], from the planning snapshot's dense
  * seq ranges) is within [[DriverCollectMaxRows]] is wrapped in a
  * [[DriverLogCollectExec]]. Its `collect`/`take` read the surviving
  * segments on the driver with no Spark job, the in-process bounded
  * `Query` of offset2/qry.go:86-189; the wrapped plan is the one
  * Spark plans without it.
  */
object OrderedLogScan extends SparkStrategy {

  /** Row cut of the driver collect: the most rows a root collect of a
    * graft-log scan reads on the driver instead of in a job. Measured
    * on 4 cores (local[4]) over a 200k-row log of the bench's event
    * struct `(event_id, ts_ns, user_id, event_type, amount, props)` in
    * one page-indexed segment: median of 7 after 3 warm-ups, ms, the
    * driver read against the same plan's job (`child.executeCollect`)
    * for a forward range `Gt(37000), Lt(37001 + n), Limit(n)` and a
    * tail `Reverse, Limit(n)`:
    *
    * {{{
    *     rows   range driver / job   reverse driver / job
    *      100        2.0 /  31.6          2.4 / 163.2
    *    1,000        2.8 /  27.8          2.9 / 153.7
    *   10,000        9.5 /  30.4         10.2 / 157.4
    *   50,000       42.9 /  51.9         44.7 / 174.1
    *   65,536       56.4 /  60.5         57.5 / 186.0
    *  100,000       84.7 /  75.3         87.7 / 195.4
    * }}}
    *
    * The forward range crosses over between 65,536 and 100,000 rows
    * (the reversed job path decodes its whole packed run row by row,
    * so the tail read never does here); the cut sits at the last
    * measured point below it, under [[graft.storage.SliceRead.MaxRows]]. */
  private[graft] val DriverCollectMaxRows: Long = 1L << 16

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(Seq(so @ SortOrder(attr: AttributeReference, direction, _, _)),
          true, child, _) if seqOfLogScan(attr.exprId, child) =>
      direction match {
        case Ascending =>
          SeqOrderedDrainExec(planLater(child), so) :: Nil
        case Descending =>
          SortExec(so :: Nil, global = false,
            child = ReversePartitionsExec(planLater(child))) :: Nil
      }
    case ReturnAnswer(root) =>
      rootLogScan(root, sorted = false).filter(_._1.exactRows <=
        DriverCollectMaxRows).map { case (scan, r, reverse) =>
        DriverLogCollectExec(planLater(root), scan, r.output, reverse)
      }.toList
    case _ => Nil
  }

  /** The graft-log row scan (not a manifest-answered aggregate) under
    * `plan`, its relation, and whether the answer is in descending seq
    * order (the sort's direction, else the scan's own), when `plan` is
    * that scan under projections of its own columns and at most one
    * global sort by its `seq`. */
  private def rootLogScan(
      plan: LogicalPlan,
      sorted: Boolean
  ): Option[(GraftLogScan, DataSourceV2ScanRelation, Boolean)] =
    plan match {
      case r: DataSourceV2ScanRelation =>
        r.scan match {
          case s: GraftLogScan => Some((s, r, s.isDescending))
          case _ => None
        }
      case Project(list, child)
          if list.forall(_.isInstanceOf[AttributeReference]) =>
        rootLogScan(child, sorted)
      case Sort(Seq(SortOrder(a: AttributeReference, dir, _, _)), true, child, _)
          if !sorted && seqOfLogScan(a.exprId, child) =>
        rootLogScan(child, sorted = true)
          .map { case (s, r, _) => (s, r, dir == Descending) }
      case _ => None
    }

  /** Does `id` resolve to the `seq` output of a single ascending
    * graft-log scan under an order-preserving Project/Filter chain? */
  private def seqOfLogScan(id: ExprId, plan: LogicalPlan): Boolean =
    plan match {
      case r: DataSourceV2ScanRelation =>
        r.scan match {
          // a descending (top-N-cut) scan is already ordered; don't
          // stack passthroughs on a shape pushdown owns
          case s: GraftLogScan if !s.isDescending =>
            r.output.exists(a => a.exprId == id && a.name == "seq")
          case _ => false
        }
      case f: Filter => seqOfLogScan(id, f.child)
      case p: Project =>
        p.projectList.find(_.exprId == id) match {
          case Some(a: AttributeReference) => seqOfLogScan(id, p.child)
          case Some(al: Alias) =>
            al.child match {
              case ar: AttributeReference => seqOfLogScan(ar.exprId, p.child)
              case _ => false
            }
          case _ => false
        }
      case _ => false
    }

  /** Idempotently install the strategy into a session's experimental
    * strategies — the runtime path for sessions built without
    * `spark.sql.extensions=graft.GraftExtensions`.
    * [[graft.storage.ParquetLog.open]] calls this, so any session
    * that opens an engine log plans ordered drains shuffle-free; the
    * strategy is a pure physical-plan optimization (rewritten plans
    * are row-for-row identical), additive and session-scoped.
    *
    * The read-modify-write on `extraStrategies` is synchronized:
    * concurrent `ParquetLog.open` calls on one session would otherwise
    * race the check-then-act (duplicate installs are harmless, but a
    * concurrent unrelated strategy assignment could be lost). */
  def install(spark: SparkSession): Unit = OrderedLogScan.synchronized {
    if (!spark.experimental.extraStrategies.contains(OrderedLogScan))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ OrderedLogScan
  }
}

/** The root of a small graft-log collect (see [[OrderedLogScan]]).
  * `child` is the plan Spark would run without this node — the
  * `BatchScanExec`, under its projection or ordered drain when there
  * is one — and `doExecute` is the child's, so `toRdd`, `df.rdd` and
  * anything built on them run the job path unchanged.
  *
  * `executeCollect`/`executeTake` answer on the driver instead:
  * [[GraftLogScan.driverRows]] reads the scan's planning snapshot
  * with page pruning in ascending seq order, the rows are reversed
  * for a descending answer (`reverse`) and projected from
  * `scanOutput` (the relation's columns) to this node's output. When
  * the driver read refuses (a type it does not convert, more pages
  * than twice [[OrderedLogScan.DriverCollectMaxRows]] rows or too
  * many files, a planned file gone under a concurrent rewrite, a read
  * error) the child's own collect answers, as a job.
  *
  * Metrics: rows decoded on the driver, segment files it read, and
  * whether the job path answered instead (0/1). */
final case class DriverLogCollectExec(
    child: SparkPlan,
    scan: GraftLogScan,
    scanOutput: Seq[Attribute],
    reverse: Boolean
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "driverRows" -> SQLMetrics.createMetric(sparkContext,
      "rows decoded on the driver"),
    "driverFiles" -> SQLMetrics.createMetric(sparkContext,
      "segment files read on the driver"),
    "fallback" -> SQLMetrics.createMetric(sparkContext,
      "job path taken"))

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    answer(Int.MaxValue, child.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    answer(n, child.executeTake(n))

  /** The first `n` rows read on the driver, else `viaJob`. */
  private def answer(n: Int, viaJob: => Array[InternalRow])
      : Array[InternalRow] = {
    val got = scan.driverRows(OrderedLogScan.DriverCollectMaxRows)
    got match {
      case Some(rows) =>
        metrics("driverRows") += rows.size
        metrics("driverFiles") += scan.segmentFiles
      case None => metrics("fallback") += 1
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    got.fold(viaJob) { rows =>
      val project = UnsafeProjection.create(output, scanOutput)
      (if (reverse) rows.reverseIterator else rows.iterator)
        .take(n).map(r => project(r).copy()).toArray
    }
  }

  override def simpleString(maxFields: Int): String =
    s"DriverLogCollect cut=${OrderedLogScan.DriverCollectMaxRows} rows"

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Ascending ordered drain: pass the child through unchanged, but
  * declare its (true) per-partition ordering so downstream operators
  * don't re-sort. The global ordering across partition indexes is a
  * property of the connector's partition planning, carried implicitly
  * exactly as Spark's own global Sort carries it (RangePartitioning +
  * partition index). */
final case class SeqOrderedDrainExec(child: SparkPlan, order: SortOrder)
    extends UnaryExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    child.output
  override def outputOrdering: Seq[SortOrder] = order :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Reverse the PARTITION INDEX order of the child — no rows move, no
  * buffering: partition i of this node is partition (n-1-i) of the
  * child. Within-partition row order is untouched (still seq asc), so
  * a local descending sort above completes the global reverse. */
final case class ReversePartitionsExec(child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    new ReversedPartitionsRDD(child.execute())
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

private final class ReversedPartition(val index: Int, val parent: Partition)
    extends Partition

private final class ReversedPartitionsRDD(prev: RDD[InternalRow])
    extends RDD[InternalRow](
      prev.context,
      // an honest narrow dependency: partition i depends on parent
      // partition n-1-i. (The one-arg RDD ctor would declare
      // OneToOneDependency, and the scheduler's locality walk follows
      // DECLARED dependencies — a mismatch schedules reversed-drain
      // tasks against the wrong parent's blocks on a real cluster.)
      Seq(new org.apache.spark.NarrowDependency[InternalRow](prev) {
        override def getParents(partitionId: Int): Seq[Int] =
          Seq(prev.partitions.length - 1 - partitionId)
      })) {
  override def getPartitions: Array[Partition] = {
    val n = prev.partitions.length
    Array.tabulate[Partition](n)(i =>
      new ReversedPartition(i, prev.partitions(n - 1 - i)))
  }
  override def compute(
      split: Partition,
      context: TaskContext
  ): Iterator[InternalRow] =
    firstParent[InternalRow]
      .iterator(split.asInstanceOf[ReversedPartition].parent, context)
  override def getPreferredLocations(split: Partition): Seq[String] =
    firstParent[InternalRow]
      .preferredLocations(split.asInstanceOf[ReversedPartition].parent)
}
