package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, as a 100 TB pipeline needs both:
  *
  *   - [[cosineTopK]] — exact brute force: one narrow map over the
  *     corpus (dot product via `zip_with`/`aggregate`, fully
  *     codegen'd, no UDF) + a `TakeOrderedAndProject` top-k. No
  *     shuffle of the corpus itself; the only data movement is the
  *     k-row result. This is the correctness oracle and is already
  *     the right plan for "score everything once" batch jobs.
  *
  *   - [[lshBuckets]] / [[lshTopK]] — random-hyperplane LSH: each
  *     vector gets a b-bit signature (sign of dot with b fixed
  *     pseudo-random hyperplanes); queries probe only their bucket
  *     (plus optional neighbor buckets), turning top-k into a
  *     bucket-local scan. Bucket assignment is a narrow transform;
  *     the bucketed table can be written partitioned by signature so
  *     a query touches one partition — the IVF-style scale path.
  *
  * Hyperplane components are derived deterministically from md5, so
  * signatures are reproducible across engines and runs (no RNG state
  * to ship). Deterministic = oracle-checkable.
  */
object Ann {

  /** Deterministic clustered evaluation corpus: `n` vectors of `dims`
    * floats around `clusters` hash-derived centers (components uniform
    * in [-1, 1]), each dim perturbed by hash-derived noise uniform in
    * [-sigma, sigma]. Everything derives from integer arithmetic on
    * `vec_id` — no RNG state, bit-reproducible across runs and
    * engines — so recall curves measured on it (BASELINE.md, "ANN
    * recall-vs-cost curves") and
    * the recall floor pinned on it (AnnIndexSpec) are stable numbers,
    * not seeds. `sigma` sets the overlap regime: ~0.5 is
    * well-separated, ~1.0 heavily overlapping. Cluster of vector v is
    * `v % clusters`. */
  def clusteredCorpus(
      spark: org.apache.spark.sql.SparkSession,
      n: Long,
      clusters: Int = 64,
      dims: Int = 64,
      sigma: Double = 0.8
  ): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), d => {
        val c = pmod(col("id"), lit(clusters))
        val cent = pmod(c * 131 + d * 17, lit(997)) / 498.5 - 1.0
        val noise =
          (pmod(col("id") * 31 + d * 7 + c, lit(201)) - 100) / 100.0 * sigma
        (cent + noise).cast("float")
      }).as("embedding"))

  /** Dot product in double precision (codegen'd higher-order fns). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )

  /** L2 norm of a vector column. */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity of two equal-length float vectors, computed in
    * double precision. Pure built-in higher-order functions. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )
    val na = sqrt(
      aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))
    )
    val nb = sqrt(
      aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))
    )
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Exact top-k by cosine against one query vector. Returns
    * (id, score) ordered best-first, ties broken by id.
    * Scoring uses the native codegen'd [[graft.functions.VecOps]]
    * expressions (14× the built-in aggregate/zip_with form on the
    * all-pairs shape; identical accumulation order → identical
    * doubles). */
  def cosineTopK(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Float],
      k: Int
  ): DataFrame = {
    val spark = df.sparkSession
    graft.functions.VecOps.register(spark)
    val q = array(queryVec.map(v => lit(v)): _*).cast("array<float>")
    val qNorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    df.select(
      col(idCol),
      round(
        when(
          call_function("vec_norm_f", col(vecCol)) === 0.0 || lit(qNorm) === 0.0,
          0.0
        ).otherwise(
          call_function("vec_dot_f", col(vecCol), q) /
            (call_function("vec_norm_f", col(vecCol)) * lit(qNorm))
        ),
        6
      ).as("score")
    ).orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Top-k cosine neighbors for EACH of a small batch of query
    * vectors in ONE corpus pass — the retrieval-eval shape (a probe
    * set of queries against the full corpus), where per-query
    * [[cosineTopK]] scans would multiply corpus passes by |queries|.
    *
    * Plan shape at 100 TB: the query batch ships in the task CLOSURE
    * (a few KB — zero shuffle to distribute it); one pass over the
    * corpus scores every query per row and keeps |Q| bounded k-heaps
    * per partition (mapPartitions — the one shape Spark has no
    * declarative partial-top-k-per-key for: an explode to Q×N rows +
    * groupBy(query, partition) sorted-slice agg was measured ~4×
    * slower, paying per-row literal materialization and a full
    * collect_list through the shuffle). Only the survivors —
    * partitions × k rows per query — reach the single skinny shuffle,
    * so the final per-query selection never sees the corpus. The
    * closure's float→double sequential dot/norm is bit-identical to
    * the `VecOps` codegen ([[cosineTopK]]'s path), and scores round
    * to 6 dp (java BigDecimal HALF_UP — Spark `round`'s exact
    * semantics) BEFORE ranking, ties by id: reproducible across
    * engines.
    *
    * Returns `(query_id, vec_id, score)`, k rows per query. */
  def cosineTopKBatch(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int
  ): DataFrame = {
    require(queries.nonEmpty, "cosineTopKBatch needs >= 1 query vector")
    require(k > 0, s"k must be > 0 (got $k)")
    val spark = df.sparkSession
    import spark.implicits._
    val qIds = queries.map(_._1).toArray
    val qVecs = queries.map(_._2.toArray).toArray
    val qNorms = queries
      .map(q => math.sqrt(q._2.map(v => v.toDouble * v.toDouble).sum))
      .toArray
    val worstOnTop =
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val local = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val nq = qIds.length
        val heaps = Array.fill(nq)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstOnTop))
        it.foreach { case (id, v) =>
          // null vectors are skipped, matching cosineTopK's
          // null-tolerance (its score is null there; a heap has no
          // null slot, so the row simply never ranks)
          if (v != null) {
            var n2 = 0.0
            var i = 0
            while (i < v.length) { n2 += v(i).toDouble * v(i).toDouble; i += 1 }
            val n = math.sqrt(n2)
            var qi = 0
            while (qi < nq) {
              val qv = qVecs(qi)
              // strict: a truncated dot over mismatched dims is neither
              // the padded nor the truncated cosine — fail like the
              // oracle (list_cosine_similarity) instead of silently
              // returning wrong neighbors
              if (v.length != qv.length)
                throw new IllegalArgumentException(
                  s"dimension mismatch: corpus vector id=$id has ${v.length} " +
                    s"dims, query ${qIds(qi)} has ${qv.length}")
              var dot = 0.0
              var j = 0
              while (j < qv.length) { dot += v(j).toDouble * qv(j).toDouble; j += 1 }
              val raw =
                if (n == 0.0 || qNorms(qi) == 0.0) 0.0
                else dot / (n * qNorms(qi))
              // NaN/Infinite components (corrupt embeddings) score 0
              // instead of blowing up BigDecimal.valueOf and the heap
              // ordering — the row stays visible but never wins
              val s = if (java.lang.Double.isFinite(raw)) round6(raw) else 0.0
              val h = heaps(qi)
              h.enqueue((s, id))
              if (h.size > k) { h.dequeue(); () }
              qi += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (s, id) => (qIds(qi), id, s) }
        }
      }
      .toDF("query_id", "id", "score")
    // final per-query selection over the tiny candidate set
    Ann.finishTopK(local, k)
  }

  /** Top-k for EACH of a small batch of queries over an IVF
    * assignment in ONE pass over the union of all probed cells — the
    * retrieval-eval shape applied to the IVF tier: per-query
    * [[ivfTopK]] scans multiply Spark jobs (and their fixed overhead)
    * by |queries|, where the batch form plans one partition-pruned
    * scan and keeps |Q| bounded k-heaps per partition
    * ([[cosineTopKBatch]]'s measured pattern). Each row is scored
    * ONLY against the queries whose probe set contains its cell, so
    * per-query results are IDENTICAL to `ivfTopK(.., nprobe)` —
    * same probe rule, same rounding-before-ranking, same ties
    * (spec-pinned in PqSpec's sibling AnnIndexSpec).
    *
    * Returns `(query_id, vec_id, score)`, k rows per query. */
  def ivfTopKBatch(
      assigned: DataFrame,
      vecCol: String,
      idCol: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      centroids: Map[Long, Seq[Float]],
      nprobe: Int = 2
  ): DataFrame = {
    require(queries.nonEmpty, "ivfTopKBatch needs >= 1 query vector")
    require(k > 0, s"k must be > 0 (got $k)")
    val spark = assigned.sparkSession
    import spark.implicits._
    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val qIds = queries.map(_._1).toArray
    val qVecs = queries.map(_._2.toArray).toArray
    val qNorms = queries
      .map(q => math.sqrt(q._2.map(v => v.toDouble * v.toDouble).sum))
      .toArray
    // driver-side probe choice per query — the ivfTopK rule verbatim
    val probes: Array[Seq[Long]] = queries.map { case (_, qv) =>
      centroids.toSeq
        .sortBy { case (cid, cvec) => (d2(qv, cvec), cid) }
        .take(nprobe).map(_._1)
    }.toArray
    val unionCells = probes.flatten.distinct
    // cell → indexes of the queries probing it (ships in the closure)
    val byCell: Map[Long, Array[Int]] = unionCells.map { c =>
      c -> probes.indices.filter(qi => probes(qi).contains(c)).toArray
    }.toMap
    val worstOnTop =
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val local = assigned
      .where(col("cell").isin(unionCells: _*)) // ONE partition-pruned scan
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col("cell").cast("long"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions { it =>
        val heaps = Array.fill(qIds.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstOnTop))
        it.foreach { case (id, v, cell) =>
          if (v != null) {
            val eligible = byCell.getOrElse(cell, Array.emptyIntArray)
            if (eligible.nonEmpty) {
              var n2 = 0.0
              var i = 0
              while (i < v.length) { n2 += v(i).toDouble * v(i).toDouble; i += 1 }
              val n = math.sqrt(n2)
              var e = 0
              while (e < eligible.length) {
                val qi = eligible(e)
                val qv = qVecs(qi)
                if (v.length != qv.length)
                  throw new IllegalArgumentException(
                    s"dimension mismatch: corpus vector id=$id has " +
                      s"${v.length} dims, query ${qIds(qi)} has ${qv.length}")
                var dot = 0.0
                var j = 0
                while (j < qv.length) { dot += v(j).toDouble * qv(j).toDouble; j += 1 }
                val raw =
                  if (n == 0.0 || qNorms(qi) == 0.0) 0.0
                  else dot / (n * qNorms(qi))
                val s = if (java.lang.Double.isFinite(raw)) round6(raw) else 0.0
                val h = heaps(qi)
                h.enqueue((s, id))
                if (h.size > k) { h.dequeue(); () }
                e += 1
              }
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (s, id) => (qIds(qi), id, s) }
        }
      }
      .toDF("query_id", "id", "score")
    Ann.finishTopK(local, k)
  }

  /** The shared skinny finish of the batch top-k operators: per-query
    * sorted-slice over the partitions × k surviving candidates. Sort
    * key (1 − score) ascending ≡ score descending (stays ≥ 0 for
    * cosine — no -0.0 ordering edge), ties by id ascending. */
  private[similarity] def finishTopK(local: DataFrame, k: Int): DataFrame =
    local
      .groupBy(col("query_id"))
      .agg(slice(
        sort_array(collect_list(struct(
          (lit(1.0) - col("score")).as("ns"),
          col("id").as("id"),
          col("score").as("score")))),
        1, k).as("_top"))
      .select(col("query_id"), explode(col("_top")).as("t"))
      .select(
        col("query_id"),
        col("t.id").as("vec_id"),
        col("t.score").as("score"))

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dimension d): md5-derived value mapped to [-0.5, 0.5). Computed
    * DRIVER-SIDE — the components are constants, so hashing them per
    * row (the naive formulation, and what the DuckDB oracle does in
    * SQL) wastes rows × bits × dims md5 calls. The arithmetic is
    * bit-identical to the oracle's
    * `('0x'||substr(md5(...),1,8))::BIGINT / 4294967296.0 - 0.5`. */
  private[graft] def planeComponent(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"plane:$p:$d".getBytes("UTF-8"))
      .take(4)
      .map(b => f"${b & 0xff}%02x")
      .mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
  }

  /** b-bit random-hyperplane signature of a `dims`-dimensional vector:
    * bit p = sign of dot(vec, plane_p), packed into a BIGINT. ONE
    * fused native loop over all planes
    * ([[graft.functions.LshSignatureExpr]] — round 14; the composed
    * form evaluated `bits` interpreted `aggregate(zip_with(...))`
    * expressions per row, one intermediate array each). Accumulation
    * order matches, so the dots are bit-identical doubles
    * (AnnIndexSpec pins native == composed). */
  def lshSignature(vec: Column, bits: Int, dims: Int): Column =
    graft.functions.LshSignatureExpr.column(vec, bits, dims)

  /** The composed higher-order-function form — the executable
    * (oracle-recomputable) specification of the signature. */
  private[graft] def lshSignatureComposed(
      vec: Column, bits: Int, dims: Int): Column = {
    val planes = (0 until bits).map { p =>
      val plane = array((0 until dims).map(d => lit(planeComponent(p, d))): _*)
      // positional zip: element i of the vector pairs with component i
      val dot = aggregate(
        zip_with(vec, plane, (x, c) => x.cast("double") * c),
        lit(0.0),
        (acc, x) => acc + x
      )
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    planes.reduce(_ + _)
  }

  /** Assign each vector its LSH bucket. Writing the result partitioned
    * by `bucket` gives IVF-style partition pruning for queries. */
  def lshBuckets(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      bits: Int = 8
  ): DataFrame =
    df.select(
      col(idCol),
      col(vecCol),
      lshSignature(col(vecCol), bits, vecDims(df, vecCol)).as("bucket")
    )

  /** Dimensionality of the embedding column (one 1-row driver read —
    * vectors in a corpus are fixed-width). */
  private[graft] def vecDims(df: DataFrame, vecCol: String): Int = {
    // first NON-NULL vector: head() on an empty frame throws an
    // opaque NoSuchElementException and a null first row would NPE —
    // both are refused with an actionable message instead
    val rows = df
      .where(col(vecCol).isNotNull)
      .select(size(col(vecCol)))
      .limit(1)
      .collect()
    require(rows.nonEmpty,
      s"cannot infer vector dimensionality: no non-null $vecCol rows")
    rows.head.getInt(0)
  }

  /** Driver-side signature of one query vector — pure Scala math, no
    * Spark job; bit-identical to [[lshSignature]]. */
  private[graft] def signatureOf(vec: Seq[Float], bits: Int): Long =
    (0 until bits).map { p =>
      val dot = vec.zipWithIndex
        .map { case (x, d) => x.toDouble * planeComponent(p, d) }
        .foldLeft(0.0)(_ + _)
      if (dot >= 0) 1L << p else 0L
    }.sum

  /** Approximate top-k: score only the query's bucket. Falls back to
    * a global scan if the bucket has fewer than k members is NOT done
    * here — callers wanting recall guarantees use multi-probe (pass
    * `probeBuckets` from [[hammingNeighbors]]). */
  def lshTopK(
      bucketed: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Float],
      k: Int,
      bits: Int = 8,
      probeHamming: Int = 1
  ): DataFrame = {
    val spark = bucketed.sparkSession
    val q = array(queryVec.map(v => lit(v)): _*)
    // the query's signature is plain driver-side arithmetic — no job
    val qSig = signatureOf(queryVec, bits)
    val probes = hammingNeighbors(qSig, bits, probeHamming)
    graft.functions.VecOps.register(spark)
    val qNorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    bucketed
      .where(col("bucket").isin(probes: _*)) // partition-prunable
      .select(
        col(idCol),
        round(
          when(
            call_function("vec_norm_f", col(vecCol)) === 0.0 || lit(qNorm) === 0.0,
            0.0
          ).otherwise(
            call_function("vec_dot_f", col(vecCol), q.cast("array<float>")) /
              (call_function("vec_norm_f", col(vecCol)) * lit(qNorm))
          ),
          6
        ).as("score")
      )
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Top-k for EACH of a small batch of queries over a [[lshBuckets]]
    * frame in ONE pass over the union of all probed buckets — the
    * [[ivfTopKBatch]] shape on the sign-LSH tier: driver-side
    * signatures + multi-probe neighborhoods per query, one
    * partition-prunable bucket filter, each row scored only against
    * the queries whose probe set contains its bucket. Per-query
    * results are row-identical to `lshTopK(.., bits, probeHamming)`
    * (spec-pinned). Returns `(query_id, vec_id, score)`. */
  def lshTopKBatch(
      bucketed: DataFrame,
      vecCol: String,
      idCol: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      bits: Int = 8,
      probeHamming: Int = 1
  ): DataFrame = {
    require(queries.nonEmpty, "lshTopKBatch needs >= 1 query vector")
    require(k > 0, s"k must be > 0 (got $k)")
    val spark = bucketed.sparkSession
    import spark.implicits._
    val qIds = queries.map(_._1).toArray
    val qVecs = queries.map(_._2.toArray).toArray
    val qNorms = queries
      .map(q => math.sqrt(q._2.map(v => v.toDouble * v.toDouble).sum))
      .toArray
    val probes: Array[Seq[Long]] = queries.map { case (_, qv) =>
      hammingNeighbors(signatureOf(qv, bits), bits, probeHamming)
    }.toArray
    val unionBuckets = probes.flatten.distinct
    val byBucket: Map[Long, Array[Int]] = unionBuckets.map { b =>
      b -> probes.indices.filter(qi => probes(qi).contains(b)).toArray
    }.toMap
    val worstOnTop =
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val local = bucketed
      .where(col("bucket").isin(unionBuckets: _*)) // partition-prunable
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col("bucket").cast("long"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions { it =>
        val heaps = Array.fill(qIds.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstOnTop))
        it.foreach { case (id, v, bucket) =>
          if (v != null) {
            val eligible = byBucket.getOrElse(bucket, Array.emptyIntArray)
            if (eligible.nonEmpty) {
              var n2 = 0.0
              var i = 0
              while (i < v.length) { n2 += v(i).toDouble * v(i).toDouble; i += 1 }
              val n = math.sqrt(n2)
              var e = 0
              while (e < eligible.length) {
                val qi = eligible(e)
                val qv = qVecs(qi)
                if (v.length != qv.length)
                  throw new IllegalArgumentException(
                    s"dimension mismatch: corpus vector id=$id has " +
                      s"${v.length} dims, query ${qIds(qi)} has ${qv.length}")
                var dot = 0.0
                var j = 0
                while (j < qv.length) { dot += v(j).toDouble * qv(j).toDouble; j += 1 }
                val raw =
                  if (n == 0.0 || qNorms(qi) == 0.0) 0.0
                  else dot / (n * qNorms(qi))
                val s = if (java.lang.Double.isFinite(raw)) round6(raw) else 0.0
                val h = heaps(qi)
                h.enqueue((s, id))
                if (h.size > k) { h.dequeue(); () }
                e += 1
              }
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (s, id) => (qIds(qi), id, s) }
        }
      }
      .toDF("query_id", "id", "score")
    Ann.finishTopK(local, k)
  }

  /** Persist the LSH-bucketed corpus partitioned by bucket — the
    * IVF-flat layout on disk: one directory per signature, so a probe
    * reads ONLY its bucket directories via partition pruning (at
    * 100 TB: a top-k touches `|probes|/2^bits` of the corpus, not a
    * full scan). */
  def writeBucketedIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      bits: Int = 8
  ): Unit =
    lshBuckets(df, vecCol, idCol, bits).write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(path)

  /** Top-k over a [[writeBucketedIndex]] layout. The bucket predicate
    * inside [[lshTopK]] lands on the partition column, so the scan
    * plans only the probed directories (PartitionFilters — asserted in
    * AnnIndexSpec). */
  def indexTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Float],
      k: Int,
      bits: Int = 8,
      probeHamming: Int = 1
  ): DataFrame =
    lshTopK(spark.read.parquet(path), vecCol, idCol, queryVec, k, bits, probeHamming)

  /** IVF-style coarse quantization: assign each vector to its nearest
    * centroid; centroids are the embeddings of `centroidIds`
    * (deterministic — no RNG/k-means state to ship; callers wanting
    * trained centroids pass the ids of a precomputed codebook).
    * Writing the result partitioned by `cell` gives the classic
    * IVF-flat layout: a query probes `nprobe` nearest cells only. */
  def ivfAssign(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroidIds: Seq[Long]
  ): DataFrame = {
    val spark = df.sparkSession
    graft.functions.VecOps.register(spark)
    // Centroids are k small vectors — fetch them to the driver once and
    // inline them as literals. The assignment is then a PER-ROW argmin
    // over a k-element struct array (struct ordering = (dist, cell)):
    // a narrow, codegen'd map over the corpus with NO join, NO window,
    // NO shuffle — where a crossJoin×k + row_number argmin would
    // shuffle n×k scored rows. argmin of ||v||²+||c||²-2v·c over c
    // drops the per-row constant ||v||², so only ||c||²-2v·c is scored.
    val cents = df
      .where(col(idCol).isin(centroidIds: _*))
      .select(col(idCol), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
      .toSeq
    require(cents.nonEmpty, "no centroid rows found for the given ids")
    ivfAssignVectors(df, vecCol, idCol, cents)
  }

  /** [[ivfAssign]] with the codebook passed explicitly (driver-side
    * vectors) — the form the training loop iterates. Two plans with
    * identical semantics (cross-checked in IvfCompactSpec), forked on
    * codebook size:
    *
    *  - k ≤ `literalMax`: k inline struct literals + array_min — the
    *    whole argmin is visible in the plan and SQL-recomputable (the
    *    q68 oracle surface).
    *  - k > `literalMax`: [[graft.functions.CodebookArgmin]] — the
    *    codebook rides the expression as primitive reference arrays
    *    (shipped once via the broadcast task binary), so the plan
    *    stays FLAT in k. At production IVF scale (k ~ 10⁴–10⁵) the
    *    literal form is a tens-of-MB plan re-analyzed per query; the
    *    native form is a constant-size plan and a tight float[][]
    *    loop.
    *
    * Both paths are per-row maps over the corpus — no join, no
    * shuffle; per-row cost is O(k·dims) either way (IVF-flat assign
    * has no pruning structure — that is the standard FAISS-style
    * trade at this tier). */
  def ivfAssignVectors(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      cents: Seq[(Long, Seq[Float])],
      literalMax: Int = 128
  ): DataFrame = {
    require(cents.nonEmpty, "empty codebook")
    if (cents.size > literalMax) {
      val cell = graft.functions.CodebookArgmin.assign(col(vecCol), cents)
      return df.select(col(idCol), col(vecCol), cell.as("cell"))
    }
    graft.functions.VecOps.register(df.sparkSession)
    val best = array_min(
      array(cents.sortBy(_._1).map { case (cell, cvec) =>
        val cLit = array(cvec.map(v => lit(v)): _*).cast("array<float>")
        val cNormSq = cvec.map(v => v.toDouble * v.toDouble).sum
        struct(
          (lit(cNormSq) - lit(2.0) * call_function("vec_dot_f", col(vecCol), cLit))
            .as("dist"),
          lit(cell).as("cell")
        )
      }: _*)
    )
    // null vector → null cell, matching the CodebookArgmin path's
    // UnaryExpression null-safety: without this guard the null dist
    // field would sort FIRST in array_min's struct ordering and the
    // literal path would return the lowest cell id for null vectors
    val cell = when(col(vecCol).isNull, lit(null).cast("long"))
      .otherwise(best.getField("cell"))
    df.select(col(idCol), col(vecCol), cell.as("cell"))
  }

  /** Full Lloyd training loop: `iters` rounds of assign → per-cell
    * mean → refreshed codebook (assign forks on k per
    * [[ivfAssignVectors]]: inline literals at small k, the
    * CodebookArgmin broadcast expression above). Each round is ONE
    * flat job (argmin is a per-row map; the mean is one shuffle on
    * (cell, dim); only k×dims mean values return to the driver), so
    * lineage never grows — the iterative-algorithm discipline without
    * even needing checkpoints. Cells that lose all members keep their
    * previous centroid (the standard empty-cluster rule).
    *
    * Driver-memory envelope: the codebook intrinsically lives on the
    * driver (it ships to executors inside the assign expression), so
    * each round collects k×dims doubles — ~0.5 GB at the top of the
    * production IVF range (k=65536, dims=1024), the same in-memory
    * codebook budget FAISS training carries. Past that, IVF training
    * wants sampled training sets ([[kmeansTrainSampled]]) and sharded
    * codebooks, not a bigger driver. `roundTo ≥ 0` quantizes each refreshed mean (the
    * cross-engine-exact mode the q108 oracle replays). Returns the
    * trained codebook for [[ivfAssignVectors]] / [[ivfTopK]]. */
  def kmeansTrain(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      initIds: Seq[Long],
      iters: Int,
      roundTo: Int = -1
  ): Map[Long, Seq[Float]] = {
    var cents = df
      .where(col(idCol).isin(initIds: _*))
      .select(col(idCol), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
      .toSeq
    // ALL init ids must resolve: a missing/mistyped id silently
    // shrinking the codebook would over-pack cells downstream with no
    // error (and kmeansTrainSampled's force-admit guarantee relies on
    // this being loud)
    val missingInit = initIds.distinct.toSet -- cents.map(_._1).toSet
    require(missingInit.isEmpty,
      s"no centroid rows found for init ids: " +
        s"${missingInit.toSeq.sorted.take(10)}" +
        (if (missingInit.size > 10) s" (+${missingInit.size - 10} more)"
         else ""))
    var i = 0
    while (i < iters) {
      // roundTo >= 0 quantizes each refreshed mean to that many
      // decimals BEFORE the next round — the cross-engine-exact form
      // (q108's DuckDB oracle replays the identical training loop;
      // unrounded double avgs differ in the last ulp across engines)
      val rawMean = avg(col("x").cast("double"))
      val means = ivfAssignVectors(df, vecCol, idCol, cents)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg((if (roundTo >= 0) round(rawMean, roundTo) else rawMean).as("c"))
        .collect()
      val byCell = means
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
        }
      cents = cents.map { case (cell, old) =>
        cell -> byCell.getOrElse(cell, old)
      }
      i += 1
    }
    cents.toMap
  }

  /** [[kmeansTrain]] on a DETERMINISTIC sample of the corpus — the
    * beyond-envelope training path the kmeansTrain scaladoc sketches.
    * Lloyd quality depends on points-per-cell, not corpus size: past
    * ~10²-10³ sampled points per centroid the refreshed means are
    * statistically indistinguishable from full-corpus means, so at
    * 100 TB training on everything spends the cluster re-averaging
    * noise (FAISS trains its IVF codebooks on samples for the same
    * reason). The sample gate is a hash of the id column — stable
    * across runs, partitionings and executors (`.sample()` is
    * neither), so a retrained codebook is reproducible — and the init
    * centroid rows are ALWAYS admitted (they are point reads by id;
    * losing one would fail the `initIds` require).
    *
    * `sampleFraction` sizes the training set; pick it so
    * `rows × fraction ≈ 100-1000 × k`. Assignment of the FULL corpus
    * afterwards is unchanged ([[ivfAssignVectors]] with the returned
    * codebook) — only training reads the sample. */
  def kmeansTrainSampled(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      initIds: Seq[Long],
      iters: Int,
      sampleFraction: Double,
      roundTo: Int = -1,
      seed: Long = 42L
  ): Map[Long, Seq[Float]] = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val cut = math.max(1L, math.round(sampleFraction * 1000000L))
    val sampled = df.where(
      pmod(xxhash64(col(idCol), lit(seed)), lit(1000000L)) < cut ||
        col(idCol).isin(initIds: _*))
    kmeansTrain(sampled, vecCol, idCol, initIds, iters, roundTo)
  }

  /** One Lloyd (k-means) update step over the current codebook:
    * assign every vector to its nearest centroid ([[ivfAssign]] —
    * per-row argmin, no shuffle), then average the members of each
    * cell per dimension — ONE shuffle keyed on (cell, dim). Iterating
    * this (with lineage truncation, as in
    * [[graft.dedup.Dedup.connectedComponents]]) trains the IVF
    * codebook; a single step is exactly SQL-recomputable and is the
    * oracle surface (q68). Returns (cell, d, c). */
  def kmeansStep(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroidIds: Seq[Long]
  ): DataFrame =
    ivfAssign(df, vecCol, idCol, centroidIds)
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("cell", "d")
      .agg(round(avg(col("x").cast("double")), 6).as("c"))

  /** Approximate top-k over an IVF assignment: score only the
    * `nprobe` cells nearest to the query vector. */
  def ivfTopK(
      assigned: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Float],
      k: Int,
      centroids: Map[Long, Seq[Float]],
      nprobe: Int = 2
  ): DataFrame = {
    val spark = assigned.sparkSession
    graft.functions.VecOps.register(spark)
    // driver-side: nearest nprobe centroids to the query
    def dist(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val probeCells = centroids.toSeq
      .sortBy { case (cid, cvec) => (dist(queryVec, cvec), cid) }
      .take(nprobe)
      .map(_._1)
    val q = array(queryVec.map(v => lit(v)): _*).cast("array<float>")
    val qNorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    assigned
      .where(col("cell").isin(probeCells: _*)) // partition-prunable
      .select(
        col(idCol),
        round(
          when(
            call_function("vec_norm_f", col(vecCol)) === 0.0 || lit(qNorm) === 0.0,
            0.0
          ).otherwise(
            call_function("vec_dot_f", col(vecCol), q) /
              (call_function("vec_norm_f", col(vecCol)) * lit(qNorm))
          ),
          6
        ).as("score")
      )
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** All signatures within `maxDist` Hamming distance (multi-probe). */
  def hammingNeighbors(sig: Long, bits: Int, maxDist: Int): Seq[Long] = {
    var acc = Set(sig)
    (1 to maxDist).foreach { _ =>
      acc = acc ++ acc.flatMap(s => (0 until bits).map(b => s ^ (1L << b)))
    }
    acc.toSeq.sorted
  }
}
