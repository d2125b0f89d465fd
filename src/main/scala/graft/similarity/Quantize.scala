package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar int8 quantization for embedding columns — the storage tier
  * of a 100 TB vector corpus (4× smaller than float32, integer dot
  * products downstream). Symmetric per-vector scheme: each vector
  * stores `scale = max |v_i|` and codes `q_i = floor(v_i / scale * 127
  * + 0.5)` in [-127, 127].
  *
  * The quantizer is pure columnar arithmetic (no UDF) and the floor
  * form is engine-portable: `floor(x + 0.5)` rounds identically
  * everywhere, where `round()` half-cases differ between engines.
  * Cosine over quantized codes needs no dequantization at all — the
  * per-vector scales cancel in the cosine ratio — so the search tier
  * reads 1/4 the bytes and never touches the scales.
  */
object Quantize {

  /** Per-vector symmetric int8 codes: (id, scale, q array<int>).
    * Zero vectors quantize to all-zero codes with scale 0. */
  def int8(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    // scale is PROJECTED first so the codes lambda captures a plain
    // attribute (O(1) per element) — referencing the array_max
    // expression directly inside the lambda re-reduces the whole
    // vector once per component (higher-order functions re-evaluate
    // captured subtrees per element)
    val sc = array_max(transform(col(vecCol), x => abs(x))).cast("double")
    df.select(col(idCol), col(vecCol), sc.as("scale"))
      .select(
        col(idCol),
        col("scale"),
        transform(
          col(vecCol),
          x =>
            when(col("scale") === 0.0, lit(0L))
              .otherwise(
                floor(x.cast("double") / col("scale") * 127.0 + lit(0.5)))
              .cast("int")
        ).as("q"))
  }

  /** Reconstruct approximate floats from codes: `q_i * scale / 127`. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") * scale / 127.0)

  // ───────────────────────── IVF-PQ tier ─────────────────────────
  //
  // Product quantization over IVF residuals — the memory-bound
  // serving tier under the int8 one: a vector stores its coarse cell,
  // M sub-codes (one byte-ish each at production ksub=256) and its
  // exact norm, ~M+12 bytes against int8's dims+12 — 64-dim corpora
  // compress 16→4 subspace bytes, 1024-dim ones 1024→16. Queries
  // score by ADC (asymmetric distance computation): ONE M×ksub lookup
  // table of query-subvector · sub-centroid dots per query, then each
  // candidate is M table lookups + a per-cell constant — no float
  // vector is ever read. Everything is deterministic integer/float
  // arithmetic (residuals float-rounded explicitly, distances in
  // double, argmin ties by code), so encode AND scoring replay
  // exactly in DuckDB (the q112 oracle).

  /** IVF residuals: `(idCol, cell, residual array<float>, vnorm)`.
    * The residual is `v − c(cell)` computed in double (exact on float
    * inputs) then ROUNDED to float — the explicit rounding step makes
    * the representation engine-portable. `vnorm` is the EXACT float
    * norm (same double accumulation as [[Ann.cosineTopK]]), stored so
    * the ADC cosine needs no vector bytes at query time. */
  def pqResiduals(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      cents: Seq[(Long, Seq[Float])]
  ): DataFrame = {
    val spark = df.sparkSession
    graft.functions.VecOps.register(spark)
    import spark.implicits._
    val centsDf = broadcast(
      cents.map { case (c, v) => (c, v) }.toDF("cell", "_cent"))
    Ann.ivfAssignVectors(df, vecCol, idCol, cents)
      .join(centsDf, Seq("cell"))
      .select(
        col(idCol), col("cell"),
        zip_with(col(vecCol), col("_cent"),
          (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
          .as("residual"),
        call_function("vec_norm_f", col(vecCol)).as("vnorm"))
  }

  /** Train PQ codebooks on the IVF residuals: `m` subspaces of
    * `dims/m` dims each, `ksub` sub-centroids per subspace (Lloyd via
    * [[Ann.kmeansTrain]] per subspace — each round is one flat job;
    * `iters = 0` keeps the init sub-residuals, the exactly-replayable
    * form the oracle uses). Init is the residual sub-vectors of the
    * `ksub` LOWEST ids — deterministic, no RNG. Returns
    * `books(m)(j) = sub-centroid j of subspace m` with codes `j`
    * ordered by init id. */
  def pqTrain(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      cents: Seq[(Long, Seq[Float])],
      m: Int,
      ksub: Int,
      iters: Int,
      roundTo: Int = -1
  ): Seq[Seq[Seq[Float]]] = {
    val dims = cents.head._2.length
    require(m > 0 && dims % m == 0,
      s"dims=$dims must split evenly into m=$m subspaces")
    val dsub = dims / m
    val res = pqResiduals(df, vecCol, idCol, cents)
      .select(col(idCol), col("residual"))
      .localCheckpoint(true) // M trainings reuse one residual pass
    val initIds = res.select(col(idCol)).orderBy(col(idCol))
      .limit(ksub).collect().map(_.getLong(0)).toSeq
    require(initIds.size == ksub,
      s"corpus has only ${initIds.size} rows for ksub=$ksub sub-centroids")
    (0 until m).map { sub =>
      val subDf = res.select(col(idCol),
        slice(col("residual"), sub * dsub + 1, dsub).as("_sub"))
      Ann.kmeansTrain(subDf, "_sub", idCol, initIds, iters, roundTo)
        .toSeq.sortBy(_._1).map(_._2)
    }
  }

  /** PQ-encode the corpus: `(idCol, cell, codes array<int>, vnorm)`.
    * Code `m` is the argmin over `books(m)` of the squared L2
    * distance of residual subspace `m` (double arithmetic in
    * ascending dim order, ties by code). Two plans with identical
    * semantics (spec-pinned in PqSpec), forked on codebook size like
    * [[Ann.ivfAssignVectors]]:
    *
    *  - m×ksub ≤ `literalMax`: slice + literal struct argmin —
    *    built-in expressions end to end, the SQL-replayable oracle
    *    surface (q112);
    *  - above: [[graft.functions.PqCodes]] — the books ride the
    *    expression as one primitive `float[][][]` (shipped once via
    *    the task binary) and all m codes come from ONE pass over the
    *    residual; at production PQ scale (m=16, ksub=256 = 4096
    *    sub-centroids) the literal form is a tens-of-MB plan. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      cents: Seq[(Long, Seq[Float])],
      books: Seq[Seq[Seq[Float]]],
      literalMax: Int = 128
  ): DataFrame = {
    val dims = cents.head._2.length
    val m = books.size
    val dsub = dims / m
    require(books.forall(_.forall(_.length == dsub)),
      s"books must hold $dsub-dim sub-centroids for dims=$dims, m=$m")
    val res = pqResiduals(df, vecCol, idCol, cents)
    val codesCol =
      if (m * books.head.size > literalMax)
        graft.functions.PqCodes.encode(col("residual"), books)
      else {
        val codeCols = (0 until m).map { sub =>
          val subVec = slice(col("residual"), sub * dsub + 1, dsub)
          array_min(array(books(sub).zipWithIndex.map { case (b, j) =>
            val bLit = array(b.map(v => lit(v)): _*).cast("array<float>")
            struct(
              aggregate(
                zip_with(subVec, bLit,
                  (x, y) => (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double"))),
                lit(0.0), (acc, x) => acc + x).as("dist"),
              lit(j).as("code"))
          }: _*)).getField("code")
        }
        array(codeCols: _*)
      }
    res.select(col(idCol), col("cell"),
      codesCol.as("codes"), col("vnorm"))
  }

  /** Approximate reconstruction `c(cell) ++ books(m)(code_m)` — the
    * vector the ADC score is EXACTLY the dot against (the spec pins
    * that identity). Driver-side helper for verification. */
  def pqReconstruct(
      cell: Long,
      codes: Seq[Int],
      cents: Map[Long, Seq[Float]],
      books: Seq[Seq[Seq[Float]]]
  ): Seq[Double] = {
    val cent = cents(cell)
    val dsub = books.head.head.length
    cent.indices.map { d =>
      cent(d).toDouble + books(d / dsub)(codes(d / dsub))(d % dsub).toDouble
    }
  }

  /** ADC top-k over a [[pqEncode]] layout: probe the `nprobe` cells
    * nearest the query (same rule as [[Ann.ivfTopK]]), score each
    * candidate as
    * `(dot(q, c_cell) + Σ_m LUT[m][code_m]) / (‖q‖ · vnorm)` — an
    * approximate cosine whose numerator is exactly
    * `dot(q, reconstruction)`. The LUT (M×ksub query-subvector ·
    * sub-centroid dots) and the per-cell constants are driver
    * arithmetic inlined as literals; per row the score is M
    * `element_at` lookups and one stored float — the candidate's
    * vector bytes are never read. Same
    * narrow-scan + TakeOrderedAndProject plan as every top-k here. */
  def pqTopK(
      encoded: DataFrame,
      idCol: String,
      queryVec: Seq[Float],
      k: Int,
      cents: Map[Long, Seq[Float]],
      books: Seq[Seq[Seq[Float]]],
      nprobe: Int = 2
  ): DataFrame = {
    val m = books.size
    val dsub = books.head.head.length
    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val probeCells = cents.toSeq
      .sortBy { case (cid, cvec) => (d2(queryVec, cvec), cid) }
      .take(nprobe).map(_._1)
    val qNorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    // LUT[m][j] = dot(q_sub(m), books(m)(j)) — M×ksub doubles per query
    def dotD(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val lut = (0 until m).map { sub =>
      val qSub = queryVec.slice(sub * dsub, (sub + 1) * dsub)
      books(sub).map(b => dotD(qSub, b))
    }
    val cellDot = probeCells.map(c => c -> dotD(queryVec, cents(c))).toMap
    val cellDotExpr = probeCells.foldLeft(lit(0.0)) { (acc, c) =>
      when(col("cell") === c, lit(cellDot(c))).otherwise(acc)
    }
    val adc = (0 until m).foldLeft(cellDotExpr) { (acc, sub) =>
      acc + element_at(
        array(lut(sub).map(lit): _*), col("codes").getItem(sub) + 1)
    }
    encoded
      .where(col("cell").isin(probeCells: _*)) // partition-prunable
      .select(
        col(idCol),
        round(
          when(col("vnorm") === 0.0 || lit(qNorm) === 0.0, 0.0)
            .otherwise(adc / (col("vnorm") * lit(qNorm))),
          6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[pqTopK]] with the standard production finish: ADC shortlists
    * `shortlist` candidates (default 10k per FAISS practice), then the
    * float vectors of the SHORTLIST ONLY are fetched by id (a pushed
    * IN literal — shortlist-sized by construction, row-group skipping
    * on an id-sorted corpus) and re-scored with the exact cosine.
    * Compressed codes prune 99%+ of the corpus; the exact tier reads
    * only the survivors — recall approaches plain IVF at the same
    * `nprobe` while vector bytes are read for `shortlist` rows
    * instead of every probed row. */
  def pqTopKRerank(
      encoded: DataFrame,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Float],
      k: Int,
      cents: Map[Long, Seq[Float]],
      books: Seq[Seq[Seq[Float]]],
      nprobe: Int = 2,
      shortlist: Int = 0,
      maxInLiteralIds: Int = 1000
  ): DataFrame = {
    val n = if (shortlist > 0) shortlist else 10 * k
    // materialized once (executor-local blocks): the gate sample AND
    // the over-gate broadcast semi-join both reuse this one ADC scan
    // instead of planning the probed-cell pipeline twice — the
    // incremental-text-fetch pattern (Dedup.verifyJaccard candidates)
    val short = pqTopK(encoded, idCol, queryVec, n, cents, books, nprobe)
      .select(col(idCol))
      .localCheckpoint(true)
    // pushed IN literal while the shortlist is small (row-group
    // skipping on an id-sorted corpus); above the gate a broadcast
    // semi-join of the shortlist frame — IN planning cost is LINEAR
    // in n and past parquet's inFilterThreshold the pushed predicate
    // degrades to a useless min/max range (the round-10 IN-literal
    // gate curve in BASELINE.md, same gates as the incremental text
    // fetch)
    val ids = short.limit(maxInLiteralIds + 1).collect().map(_.get(0))
    val pruned =
      if (ids.length <= maxInLiteralIds)
        df.where(col(idCol).isin(ids.toSeq: _*))
      else df.join(broadcast(short), Seq(idCol), "left_semi")
    Ann.cosineTopK(pruned, vecCol, idCol, queryVec, k)
  }

  /** Top-k for EACH of a small batch of queries over a [[pqEncode]]
    * layout in ONE pass over the union of all probed cells — the
    * [[Ann.ivfTopKBatch]] shape applied to the compressed tier: each
    * query's M×ksub ADC lookup table ships in the closure, each code
    * row is scored only against the queries probing its cell (M table
    * lookups + one stored norm per eligible query), and per-query
    * results are IDENTICAL to [[pqTopK]] (spec-pinned). Returns
    * `(query_id, vec_id, score)`, k rows per query. */
  def pqTopKBatch(
      encoded: DataFrame,
      idCol: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      cents: Map[Long, Seq[Float]],
      books: Seq[Seq[Seq[Float]]],
      nprobe: Int = 2
  ): DataFrame = {
    require(queries.nonEmpty, "pqTopKBatch needs >= 1 query vector")
    require(k > 0, s"k must be > 0 (got $k)")
    val spark = encoded.sparkSession
    import spark.implicits._
    val m = books.size
    val dsub = books.head.head.length
    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    def dotD(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val qIds = queries.map(_._1).toArray
    val qNorms = queries
      .map(q => math.sqrt(q._2.map(v => v.toDouble * v.toDouble).sum))
      .toArray
    val probes: Array[Seq[Long]] = queries.map { case (_, qv) =>
      cents.toSeq
        .sortBy { case (cid, cvec) => (d2(qv, cvec), cid) }
        .take(nprobe).map(_._1)
    }.toArray
    // per-query ADC LUTs and per-(query, probed-cell) constants —
    // Q×M×ksub doubles in the closure, nothing per row
    val luts: Array[Array[Array[Double]]] = queries.map { case (_, qv) =>
      (0 until m).map { sub =>
        val qSub = qv.slice(sub * dsub, (sub + 1) * dsub)
        books(sub).map(b => dotD(qSub, b)).toArray
      }.toArray
    }.toArray
    val cellDots: Array[Map[Long, Double]] = queries.zipWithIndex.map {
      case ((_, qv), qi) =>
        probes(qi).map(c => c -> dotD(qv, cents(c))).toMap
    }.toArray
    val unionCells = probes.flatten.distinct
    val byCell: Map[Long, Array[Int]] = unionCells.map { c =>
      c -> probes.indices.filter(qi => probes(qi).contains(c)).toArray
    }.toMap
    val worstOnTop =
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val local = encoded
      .where(col("cell").isin(unionCells: _*)) // ONE partition-pruned scan
      .select(col(idCol).cast("long"), col("cell").cast("long"),
        col("codes"), col("vnorm").cast("double"))
      .as[(Long, Long, Array[Int], Double)]
      .mapPartitions { it =>
        val heaps = Array.fill(qIds.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstOnTop))
        it.foreach { case (id, cell, codes, vnorm) =>
          if (codes != null) {
            val eligible = byCell.getOrElse(cell, Array.emptyIntArray)
            var e = 0
            while (e < eligible.length) {
              val qi = eligible(e)
              var adc = cellDots(qi)(cell)
              var sub = 0
              while (sub < m) { adc += luts(qi)(sub)(codes(sub)); sub += 1 }
              val raw =
                if (vnorm == 0.0 || qNorms(qi) == 0.0) 0.0
                else adc / (vnorm * qNorms(qi))
              val s = if (java.lang.Double.isFinite(raw)) round6(raw) else 0.0
              val h = heaps(qi)
              h.enqueue((s, id))
              if (h.size > k) { h.dequeue(); () }
              e += 1
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

  /** Persist a [[pqEncode]] layout partitioned by cell — the IVF-PQ
    * serving layout on disk: one directory per coarse cell holding
    * only `(id, codes, vnorm)` (~M+12 bytes a row), so a probe reads
    * `nprobe/k` of the INDEX — itself 16-64× smaller than the float
    * corpus — via partition pruning. At 100 TB of vectors this is the
    * difference between serving from ~TBs of codes and re-scanning
    * float embeddings. */
  def writePqIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      cents: Seq[(Long, Seq[Float])],
      books: Seq[Seq[Seq[Float]]]
  ): Unit =
    pqEncode(df, vecCol, idCol, cents, books).write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(path)

  /** ADC top-k over a [[writePqIndex]] layout. The probed-cell
    * predicate inside [[pqTopK]] lands on the partition column, so
    * the scan plans only the probed directories (PartitionFilters —
    * asserted in PqSpec). */
  def pqIndexTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      queryVec: Seq[Float],
      k: Int,
      cents: Map[Long, Seq[Float]],
      books: Seq[Seq[Seq[Float]]],
      nprobe: Int = 2
  ): DataFrame =
    pqTopK(spark.read.parquet(path), idCol, queryVec, k, cents, books,
      nprobe)

  /** Exact-over-codes top-k: cosine of the int8 codes against one
    * quantized query (scales cancel, so this IS the quantized-tier
    * score). Integer dot products accumulate in long — no overflow
    * below ~2^46 dims. Same narrow scan + TakeOrderedAndProject plan
    * as [[Ann.cosineTopK]], reading quarter-width vectors. */
  def cosineTopKInt8(
      quantized: DataFrame,
      qCol: String,
      idCol: String,
      queryVec: Seq[Float],
      k: Int
  ): DataFrame = {
    require(queryVec.nonEmpty, "cosineTopKInt8 query vector is empty")
    // quantize the query driver-side with the same arithmetic
    val qs = queryVec.map(_.toFloat.abs).max.toDouble
    val qCodes =
      if (qs == 0.0) queryVec.map(_ => 0L)
      else queryVec.map(v => math.floor(v.toDouble / qs * 127.0 + 0.5).toLong)
    val qLit = array(qCodes.map(lit): _*)
    val qNorm = math.sqrt(qCodes.map(c => (c * c).toDouble).sum)
    val dotQ = aggregate(
      zip_with(col(qCol), qLit, (x, y) => x.cast("long") * y),
      lit(0L),
      (acc, x) => acc + x
    )
    val normQ = sqrt(
      aggregate(
        col(qCol),
        lit(0L),
        (acc, x) => acc + x.cast("long") * x.cast("long")
      ).cast("double")
    )
    quantized
      .select(
        col(idCol),
        round(
          when(normQ === 0.0 || lit(qNorm) === 0.0, 0.0)
            .otherwise(dotQ.cast("double") / (normQ * lit(qNorm))),
          6
        ).as("score")
      )
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
