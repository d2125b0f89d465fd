package graft.multilog

import scala.jdk.CollectionConverters._

import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.storage.{SegmentWriter, SliceRead, TableStore}

/** Virtual sublogs — the reference's roaring-bitmap multilog
  * (multilog/multilog.go:21-31, multilog/roaring/) re-expressed as an
  * index TABLE `(addr STRING, seq BIGINT)`:
  *
  *   - `Sublog.Append(parentSeq)` = append an `(addr, seq)` row; bitmap
  *     `Set` idempotence = dedup on (addr, seq)
  *   - `Sublog.Get(rank)` (bitmap Select, roaring/sublog.go:55) = the
  *     rank-th of the sublog's distinct seqs in ascending order
  *   - `List()` = `select distinct addr`; cardinality = distinct count
  *   - `Delete(addr)` = copy-on-write rewrite dropping the addr;
  *     open handles are poisoned (ErrSublogDeleted, matching
  *     multilog/roaring/multilog.go:166-178)
  *
  * Scale: segment files are sorted by `(bucket, addr, seq)`, so one
  * sublog's rows sit in a few pages that the footer statistics and
  * page indexes find. `has`, `Sublog.get`/`seq`/`query` and the size
  * probe of `resolve` read those pages ON THE DRIVER
  * ([[graft.storage.TableStore.slice]]) and dedup and rank the seqs in
  * memory — no Spark job — while the pruned slice holds at most
  * `driverRowBound` rows; a bigger sublog runs the pushed
  * `bucket = h(addr) AND addr = X` scan plus `dropDuplicates` and a
  * `row_number` window as jobs. Sublog→parent-value resolution is
  * `idx.join(log, "seq")` and broadcasts when the sublog is small.
  * Roaring-bitmap compressed storage is an optional fidelity path
  * (RoaringBitmap ships in Spark's jars) deferred to a later round —
  * plain parquet columns already encode sorted seq runs efficiently.
  */
final class MultiLog private[graft] (
    val spark: SparkSession,
    val dir: String,
    driverRowBound: Long
) extends MultiLogApi {

  def this(spark: SparkSession, dir: String) =
    this(spark, dir, SliceRead.MaxRows)

  private val store = TableStore.open(spark, dir, MultiLog.schema)

  import MultiLog.{NumBuckets, bucketOf}

  // Poisoned handles: addrs deleted while a Sublog handle was open.
  // epoch is an AtomicLong and all mutators are synchronized so a
  // delete's epoch snapshot is atomic with its rewrite — a handle
  // opened before the delete can never dodge poisoning via a lost
  // read-modify-write on a plain volatile.
  private val deletedEpoch =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private val epoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The deduplicated index table `(addr, seq)`. */
  def table: DataFrame =
    store.read.select("addr", "seq").dropDuplicates("addr", "seq")

  /** One sublog's rows with bucket pruning: segments are written
    * repartitioned + sorted by a 64-way hash bucket of addr, so the
    * `bucket = h(addr)` predicate prunes ~63/64 of parquet row groups
    * via min/max stats before the addr filter even runs — the
    * manifest-free analogue of partitioning the index by addr hash
    * (at 100 TB this is the difference between a sublog read touching
    * one bucket's files and scanning the whole index). */
  private[multilog] def tableFor(addr: String): DataFrame =
    store.read
      .where(col("bucket") === bucketOf(addr) && col("addr") === addr)
      .select("addr", "seq")
      .dropDuplicates("addr", "seq")

  /** One sublog's distinct parent seqs in ascending order (index =
    * rank), read on the driver from its bucket- and addr-pruned pages;
    * None when the slice exceeds the row bound, for the job path.
    *
    * `firstRanks = Some(k)` returns only the first `k` ranks: each row
    * group holds the sublog's seqs in ascending order (the
    * `(bucket, addr, seq)` layout), so its first `k` distinct seqs
    * are all it can add to them and its decode stops there. */
  private[multilog] def ranked(
      addr: String,
      firstRanks: Option[Int] = None
  ): Option[Array[Long]] =
    store.slice(
      FilterApi.and(
        FilterApi.eq(FilterApi.intColumn("bucket"),
          Integer.valueOf(bucketOf(addr))),
        FilterApi.eq(FilterApi.binaryColumn("addr"),
          Binary.fromString(addr))),
      driverRowBound,
      firstSeqsPerGroup = firstRanks
    ).map { rows =>
      val seqs = rows.iterator.map(_.getLong(1)).toArray
      java.util.Arrays.sort(seqs)
      var n = 0
      var i = 0
      while (i < seqs.length) {
        if (n == 0 || seqs(i) != seqs(n - 1)) { seqs(n) = seqs(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(seqs, firstRanks.fold(n)(math.min(n, _)))
    }

  /** Fan a batch of `(addr, seq)` rows into the index. Idempotent by
    * construction (dedup on read), so replays from a resumed sink are
    * harmless — strictly stronger than the reference's at-most-once
    * cursor-first discipline (multilog/sink.go:50-57). */
  def appendBatch(df: DataFrame): Unit = synchronized {
    val routed = df.select(
        col(df.columns(0)).cast(StringType).as("addr"),
        col(df.columns(1)).cast(LongType).as("seq")
      ).where(col("addr").isNotNull) // null route = "don't index"
      .withColumn("bucket",
        pmod(xxhash64(col("addr")), lit(NumBuckets)).cast("int"))
    val distinct = SegmentWriter.driverResident(routed) match {
      // rows already on the driver (bucket evaluated by Spark as the
      // optimizer folded it): dedup here, and the store commits the
      // local frame with no job
      case Some(rows) =>
        spark.createDataFrame(rows.toSeq.map(r =>
          Row(r.getUTF8String(0).toString, r.getLong(1), r.getInt(2)))
          .distinct.asJava, MultiLog.schema)
      // ONE exchange, not two: bucket is a function of addr, so hash-
      // partitioning by bucket co-locates every (addr, seq) duplicate —
      // a distinct over (addr, seq, bucket) is then satisfied by the
      // bucket exchange (HashPartitioning(bucket) ⊆ the distinct's
      // clustering) and plans with NO second shuffle, where the old
      // dropDuplicates-then-repartition shape shuffled the batch twice
      case None =>
        routed.repartition(col("bucket")).distinct()
          .select("addr", "seq", "bucket")
    }
    store.append(distinct, sortWithin = MultiLog.Layout)
    epoch.incrementAndGet()
    (): Unit
  }

  def append(addr: String, parentSeq: Long): Unit = {
    import spark.implicits._
    appendBatch(Seq((addr, parentSeq)).toDF("addr", "seq"))
  }

  /** Open a sublog handle (creates-on-write semantics like the
    * reference's `Get`, multilog/roaring/multilog.go:98-140). */
  def sublog(addr: String): Sublog = new Sublog(this, addr, epoch.get())

  /** Non-empty sublog addresses (multilog/roaring/multilog.go:181-216). */
  def list(): DataFrame = table.select("addr").distinct()

  def has(addr: String): Boolean =
    ranked(addr).map(_.nonEmpty)
      .getOrElse(tableFor(addr).limit(1).count() > 0)

  /** Drop a sublog and poison open handles
    * (multilog/roaring/multilog.go:166-178). */
  def delete(addr: String): Unit = synchronized {
    store.rewrite(df => df.where(col("addr") =!= addr),
      sortWithin = MultiLog.Layout)
    deletedEpoch.put(addr, epoch.get())
    epoch.incrementAndGet()
    (): Unit
  }

  private[multilog] def isPoisoned(addr: String, handleEpoch: Long): Boolean =
    deletedEpoch.get(addr).exists(_ >= handleEpoch)

  /** Flush is a no-op: every append commits its manifest (the
    * reference's 13-second dirty-bitmap flush cadence,
    * multilog/roaring/multilog.go:44-57, is subsumed by per-batch
    * atomic commits). */
  def flush(): Unit = ()

  /** Live tail of ONE sublog (reference: multilog live queries,
    * multilog/roaring/qry.go:149-179 / multilog_live.go tests): a
    * Structured Streaming DataFrame of this sublog's `(addr, seq)`
    * rows — catch-up over existing segments, then new fan-out batches
    * as they commit. The addr/bucket predicates prune each discovered
    * file. Rows arrive in per-batch seq order; strict global order
    * across batches comes from the parent-log cursor replay
    * ([[graft.indexes.MultiLogSink]]), which is the canonical resume
    * path — same contract split as the reference (live = forwarded
    * appends, replay = ordered).
    *
    * RAW stream caveat (`dedup = false`): `delete`/`compact` rewrite
    * the index segments, and the file stream re-discovers the new
    * files — a raw consumer sees the whole surviving history again.
    * Use [[graft.live.SublogTail.push]], whose delivered-seq
    * high-water mark drops re-deliveries (and adds rank-space
    * bounds), or pass `dedup = true` for streaming-state dedup on
    * `(addr, seq)`: each seq is delivered exactly once even across
    * rewrites, at the cost of one 16-byte state row per delivered
    * entry in the checkpoint (bounded by this sublog's cardinality —
    * fine for hot-sublog tails, use the cursor-replay path for
    * whole-log consumers). */
  def liveSublog(addr: String, dedup: Boolean = false): DataFrame = {
    val raw = store.stream
      .where(col("bucket") === bucketOf(addr) && col("addr") === addr)
      .select("addr", "seq")
    if (dedup) raw.dropDuplicates("addr", "seq") else raw
  }

  /** Fold all append segments into one deduplicated segment — the
    * compaction analogue of the reference's bitmap persistence; makes
    * the dedup-on-read in [[table]] a no-op until the next append. */
  def compact(): Unit = synchronized {
    store.rewrite(
      _.dropDuplicates("addr", "seq").repartition(col("bucket")),
      sortWithin = MultiLog.Layout)
    epoch.incrementAndGet()
    (): Unit
  }
}

object MultiLog {
  /** 64-way addr-hash bucketing of the index segments (see tableFor). */
  val NumBuckets = 64

  /** The sort order inside every segment file. */
  private val Layout = Seq("bucket", "addr", "seq")

  /** Columns of a sublog frame (`Sublog.toDF`): rank, parent seq,
    * nulled. */
  private[multilog] val SublogSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("value", LongType, nullable = true),
    StructField("nulled", BooleanType, nullable = false)))

  val schema: StructType = StructType(
    Seq(
      StructField("addr", StringType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("bucket", IntegerType, nullable = false)
    )
  )

  /** Driver-side bucket of an addr — must match the xxhash64-based
    * column expression used at write time. */
  def bucketOf(addr: String): Int = {
    // evaluate the same catalyst XxHash64 expression used at write
    // time, so driver- and executor-side bucketing agree exactly
    val e = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(addr))),
      42L // Spark's default xxhash64 seed
    )
    val v = e.eval(null).asInstanceOf[Long]
    ((v % NumBuckets) + NumBuckets).toInt % NumBuckets
  }

  def open(spark: SparkSession, dir: String): MultiLog =
    new MultiLog(spark, dir)
}

/** A rank-addressed view of one sublog: entry `rank` holds the parent
  * log seq (bitmap `Select(rank)` in the reference,
  * multilog/roaring/sublog.go:40-60). Implements the same QuerySpec
  * algebra where "seq" means rank within the sublog.
  */
final class Sublog(
    parent: MultiLog,
    val addr: String,
    handleEpoch: Long
) extends SublogApi {

  private def guard(): Unit =
    if (parent.isPoisoned(addr, handleEpoch))
      throw GraftErrors.ErrSublogDeleted(addr)

  /** `(seq, value)` rows where seq = rank (0-based) and value = parent
    * log seq — a lazy job-path frame. The window is per-addr after a
    * pushed addr filter, so the shuffle is one narrow partition at
    * scale. */
  def toDF: DataFrame = {
    guard()
    val w = Window.partitionBy("addr").orderBy(col("seq").asc)
    parent
      .tableFor(addr) // bucket-pruned single-sublog read
      .withColumn("rank", row_number().over(w) - 1)
      .select(
        col("rank").cast(LongType).as("seq"),
        col("seq").as("value"),
        lit(false).as("nulled")
      )
  }

  /** Cardinality - 1, or SeqEmpty (-1) for an empty/unknown sublog.
    * Counted on the driver; above the row bound, a plain
    * bucket-pruned count job (the rank window in [[toDF]] would add a
    * needless shuffle for a cardinality question). */
  def seq: Long = {
    guard()
    parent.ranked(addr).map(_.length.toLong)
      .getOrElse(parent.tableFor(addr).count()) - 1
  }

  /** Rank → parent seq (bitmap Select). */
  def get(rank: Long): Long = {
    guard()
    parent.ranked(addr) match {
      case Some(seqs) =>
        if (rank < 0 || rank >= seqs.length)
          throw GraftErrors.ErrOutOfBounds(rank)
        seqs(rank.toInt)
      case None =>
        val rows = toDF.where(col("seq") === rank).collect()
        if (rows.isEmpty) throw GraftErrors.ErrOutOfBounds(rank)
        rows.head.getLong(1)
    }
  }

  /** QuerySpec query over ranks. Within the row bound the plan's
    * bounds, direction, limit and seqWrap are applied on the driver
    * to the ranked seqs read at call time, and the answer is a local
    * frame (collecting it runs no job); a forward plan whose answer
    * lies within the first ranks decodes only those
    * ([[Sublog.firstRanks]]). Above the bound, the [[toDF]] plan
    * through [[graft.query.QueryBuilder]]. Live sublog tailing goes
    * through the streaming layer (filtered stream on addr). */
  def query(specs: QuerySpec*): DataFrame = {
    guard()
    val plan = QueryPlan.of(specs: _*)
    require(!plan.live, "live sublog queries go through LiveTail")
    parent.ranked(addr, Sublog.firstRanks(plan)) match {
      case Some(seqs) => Sublog.local(parent.spark, seqs, plan)
      case None => graft.query.QueryBuilder.build(toDF, plan)
    }
  }

  /** Resolve this sublog's entries back to parent-log values — the
    * one join the reference's ecosystem performs (caller-side
    * `sublog seq → parent Get(seq)`, SURVEY §2.6). Returns
    * `(rank, seq, value)`.
    *
    * The sublog side broadcasts ONLY when its row count (counted on
    * the driver within the row bound, else a bucket-pruned count job)
    * fits under `spark.sql.autoBroadcastJoinThreshold` — a
    * hot addr holding 20% of a 100 TB log must not be forced through
    * the driver; it falls back to a shuffle join that AQE can still
    * re-plan. */
  def resolve(log: graft.storage.Log): DataFrame = {
    guard()
    val sub = toDF.select(
      org.apache.spark.sql.functions
        .col("seq")
        .as("rank"),
      org.apache.spark.sql.functions.col("value").as("seq")
    )
    // parse with Spark's own byte-string rules: the conf is commonly
    // set with a unit suffix ("20MB"), which a digit-stripping regex
    // would mangle into 20 BYTES and silently disable broadcasting.
    // "-1" (broadcast disabled) is not a byte string — special-cased.
    val rawThreshold = parent.spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
    val threshold =
      if (rawThreshold.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(rawThreshold)
    // ~24 bytes per (rank, seq) row of broadcast hash-table payload
    val fits = threshold > 0 &&
      parent.ranked(addr).map(_.length.toLong)
        .getOrElse(parent.tableFor(addr).count()) * 24L <= threshold
    val right =
      if (fits) org.apache.spark.sql.functions.broadcast(sub) else sub
    log.toDF
      .join(right, Seq("seq"))
      .select("rank", "seq", "value", "nulled")
  }
}

object Sublog {

  /** The ranks a forward plan's answer lies within, `[0, k)`: `k` is
    * the exclusive upper bound, or the lower bound plus the limit,
    * whichever is smaller. None for a reverse plan (its answer starts
    * at the last rank) or an unbounded forward one. */
  private[multilog] def firstRanks(plan: QueryPlan): Option[Int] =
    if (plan.reverse) None
    else {
      val lo = math.max(0L, plan.lower.getOrElse(0L))
      val byLimit =
        if (plan.limit < 0) None
        else Some(if (plan.limit > Long.MaxValue - lo) Long.MaxValue
          else lo + plan.limit)
      (plan.upper.toList ++ byLimit).minOption
        .filter(_ < Int.MaxValue).map(k => math.max(0L, k).toInt)
    }

  /** [[graft.query.QueryBuilder.build]] over `seqs` (index = rank) on
    * the driver: rank bounds, direction, limit and the seqWrap
    * projection, as a local frame. */
  private[multilog] def local(
      spark: SparkSession,
      seqs: Array[Long],
      plan: QueryPlan
  ): DataFrame = {
    val n = seqs.length.toLong
    val lo = math.max(0L, plan.lower.getOrElse(0L))
    val hi = math.min(n, plan.upper.getOrElse(n))
    val inRange =
      if (lo >= hi) Iterator.empty
      else if (plan.reverse) Iterator.iterate(hi - 1)(_ - 1).take((hi - lo).toInt)
      else Iterator.iterate(lo)(_ + 1).take((hi - lo).toInt)
    val ranks =
      if (plan.limit >= 0) inRange.take(math.min(plan.limit, Int.MaxValue).toInt)
      else inRange
    val rows = ranks.map { r =>
      if (plan.seqWrap) Row(r, seqs(r.toInt), false) else Row(seqs(r.toInt), false)
    }.toSeq
    val schema =
      if (plan.seqWrap) MultiLog.SublogSchema
      else StructType(MultiLog.SublogSchema.fields.drop(1))
    spark.createDataFrame(rows.asJava, schema)
  }
}
