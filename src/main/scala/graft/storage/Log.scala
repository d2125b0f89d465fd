package graft.storage

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StructField, StructType}

import graft.core._

/** The backend-independent log contract — the reference's `margaret.Log`
  * interface (reference: log.go:23-50 + alter.go) that both the durable
  * [[ParquetLog]] and the in-memory [[MemLog]] implement, so the
  * conformance suites run as a backend MATRIX exactly like the
  * reference's registry-driven tests (test/registry.go:9-23).
  */
trait Log {
  def spark: SparkSession
  def valueType: DataType

  /** Current max sequence number; Seqs.SeqEmpty (-1) when empty. */
  def seq: Long

  /** The committed log as a DataFrame `(seq, value, nulled)`. */
  def toDF: DataFrame

  /** Append a batch of values (single `value` column); returns the
    * first assigned (dense) sequence number. */
  def append(values: DataFrame): Long

  /** Point read; ErrOutOfBounds / ErrNulled per the reference. */
  def get(seqNo: Long): Row

  /** Batched point reads; absent seqs are simply not in the result. */
  def getMany(seqNos: Seq[Long]): Array[Row]

  /** Redact an entry in place (value → null, nulled → true). */
  def nullAt(seqNo: Long): Unit

  /** Overwrite an entry's value in place, clearing any nulled flag. */
  def replace(seqNo: Long, newValue: Column): Unit

  /** Fsck; empty list = consistent. Crash litter (orphan files, torn
    * tmp dirs) younger than `minAgeMs` is reported but never deleted —
    * it may belong to an in-flight writer in another process. Pass 0
    * only when the previous writer is known dead (post-crash repair). */
  def checkConsistency(
      repair: Boolean = false,
      minAgeMs: Long = 600000L
  ): List[String]

  /** Typed convenience append. */
  final def appendValues[T: Encoder](values: Seq[T]): Long =
    append(spark.createDataset(values).toDF("value"))

  /** Batch query per the QuerySpec algebra — shared across backends
    * (the algebra lowers onto the `toDF` view identically, see
    * [[graft.query.QueryBuilder]]). The frame is lazy. On a
    * [[ParquetLog]] its bounds, order and limit become exact seq
    * bounds of the `graft-log` scan, so a bounded query reads only the
    * segments that hold its range, and collecting one of at most
    * [[graft.plans.OrderedLogScan.DriverCollectMaxRows]] rows runs no
    * Spark job: the rows are read on the driver from the planned
    * segments' pages. */
  def query(specs: QuerySpec*): DataFrame = {
    val plan = QueryPlan.of(specs: _*)
    require(!plan.live, "use liveQuery for Live specs")
    graft.query.QueryBuilder.build(toDF, plan)
  }

  protected final def rowSchema: StructType = StructType(
    Seq(
      StructField("seq", LongType, nullable = false),
      StructField("value", valueType, nullable = true),
      StructField("nulled", BooleanType, nullable = false)
    )
  )
}
