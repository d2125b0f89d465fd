package graft

import org.apache.spark.sql.functions._

import graft.similarity.Ann

/** On-disk partitioned ANN index: results match the in-memory path
  * and probes are served by partition pruning, not a full scan. */
class AnnIndexSpec extends SparkSpec {

  private def emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("native lsh signature equals the composed per-plane form") {
    // the fused loop must produce bit-identical signatures to the
    // composed aggregate/zip_with spec (same plane constants, same
    // left-to-right accumulation → identical doubles → same signs),
    // including null vectors and the driver-side signatureOf twin
    // dims must match the data, as every caller's vecDims-inferred
    // value does (on a dims mismatch the two forms differ BY DESIGN:
    // zip_with null-pads a short vector so the composed dot goes null
    // and signs to 0, while the native loop truncates — neither is a
    // shape callers can construct through lshBuckets)
    val withNull = emb.select(col("vec_id"),
      when(col("vec_id") % 7 === 0, lit(null)).otherwise(col("embedding"))
        .as("embedding"))
    val rows = withNull.select(
      Ann.lshSignature(col("embedding"), 12, 64).as("native"),
      Ann.lshSignatureComposed(col("embedding"), 12, 64).as("composed"),
      col("embedding")).collect()
    rows.foreach { r =>
      // composed signs a null vector to 0L (null dot → when false per
      // plane) — the native form must keep that placement
      val n = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      val c = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      assert(n == c, s"null-handling or sign divergence: $n vs $c")
    }
    // driver-side signatureOf agrees with the distributed expression
    val one = emb.limit(1).collect().head
    val v = one.getSeq[Float](one.fieldIndex("embedding"))
    val driver = Ann.signatureOf(v, 12)
    val dist = emb.where(col("vec_id") === one.getLong(0))
      .select(Ann.lshSignature(col("embedding"), 12, 64))
      .collect().head.getLong(0)
    assert(driver == dist)
  }

  test("indexTopK matches in-memory lshTopK and prunes partitions") {
    val path = tmpDir("annidx") + "/idx"
    Ann.writeBucketedIndex(emb, "embedding", "vec_id", path, bits = 4)
    val qv = emb.where(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0)

    val mem = Ann.lshTopK(
      Ann.lshBuckets(emb, "embedding", "vec_id", bits = 4),
      "embedding", "vec_id", qv, 5, bits = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val disk = Ann.indexTopK(spark, path, "embedding", "vec_id", qv, 5, bits = 4)
    val diskRows = disk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(diskRows == mem)

    // the probe set must reach the scan as PartitionFilters: the plan
    // reads the probed bucket directories only (5 of 16 at hamming 1)
    val plan = disk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket probe not pushed to partition pruning:\n$plan")
    val scanned = disk.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned.exists(_ <= 5), s"scanned $scanned partitions, want <=5")
  }

  test("ivfTopKBatch equals per-query ivfTopK, including ties") {
    // the batch form serves Q queries from ONE pass over the union of
    // their probed cells; each row scores only against the queries
    // probing its cell, so results must be row-identical to the
    // single-query operator — same probe rule, same
    // rounding-before-ranking, same id tie-break
    val corpus = Ann
      .clusteredCorpus(spark, 2000L, clusters = 16, dims = 32, sigma = 0.8)
      .localCheckpoint(true)
    val cents = Ann.kmeansTrain(corpus, "embedding", "vec_id",
      (0L until 16L).toSeq, 2)
    val assigned = Ann
      .ivfAssignVectors(corpus, "embedding", "vec_id",
        cents.toSeq.sortBy(_._1))
      .localCheckpoint(true)
    val queries = Ann
      .clusteredCorpus(spark, 2005L, clusters = 16, dims = 32, sigma = 0.8)
      .where(col("vec_id") >= 2000L)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val batch = Ann
      .ivfTopKBatch(assigned, "embedding", "vec_id", queries, 7, cents,
        nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (q, rows) =>
        q -> rows.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq
      }
    queries.foreach { case (qid, qv) =>
      val single = Ann
        .ivfTopK(assigned, "embedding", "vec_id", qv, 7, cents, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single,
        s"batch diverges from ivfTopK for query $qid")
    }
  }

  test("lshTopKBatch equals per-query lshTopK, including ties") {
    val corpus = Ann
      .clusteredCorpus(spark, 2000L, clusters = 16, dims = 32, sigma = 0.8)
    val bucketed = Ann.lshBuckets(corpus, "embedding", "vec_id", bits = 8)
      .localCheckpoint(true)
    val queries = Ann
      .clusteredCorpus(spark, 2005L, clusters = 16, dims = 32, sigma = 0.8)
      .where(col("vec_id") >= 2000L)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val batch = Ann
      .lshTopKBatch(bucketed, "embedding", "vec_id", queries, 7,
        bits = 8, probeHamming = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (q, rows) =>
        q -> rows.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq
      }
    queries.foreach { case (qid, qv) =>
      val single = Ann
        .lshTopK(bucketed, "embedding", "vec_id", qv, 7, bits = 8,
          probeHamming = 1)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single,
        s"batch diverges from lshTopK for query $qid")
    }
  }

  test("recall@10 floor at the documented defaults on clustered geometry") {
    // The regression this pins: a silent break in the bucketing math
    // (plane constants, signature signs, cell argmin, probe-cell
    // selection) leaves every ANN query running and returning k rows —
    // just the WRONG rows. On the deterministic clustered corpus
    // (the geometry real embedding corpora have; the isotropic
    // embeddings fixture admits no high-recall config at all — see
    // BASELINE.md), the defaults measure ≈0.97–1.0,
    // so a 0.9 floor trips on broken math, not on noise — the corpus
    // is bit-deterministic, so the measured recall is a CONSTANT.
    val n = 4000L
    val corpus = Ann
      .clusteredCorpus(spark, n, clusters = 32, dims = 32, sigma = 0.8)
      .localCheckpoint(true)
    val queries = Ann
      .clusteredCorpus(spark, n + 10, clusters = 32, dims = 32, sigma = 0.8)
      .where(col("vec_id") >= n) // held-out: fresh noise, same centers
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val truth = Ann
      .cosineTopKBatch(corpus, "embedding", "vec_id", queries, 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    def recall(got: Map[Long, Set[Long]]): Double =
      queries.map { case (q, _) =>
        got(q).intersect(truth(q)).size.toDouble / 10
      }.sum / queries.size

    // IVF at the default nprobe = 2
    val init = (0L until 32L).toSeq
    val cents = Ann.kmeansTrain(corpus, "embedding", "vec_id", init, 3)
    val assigned = Ann
      .ivfAssignVectors(corpus, "embedding", "vec_id",
        cents.toSeq.sortBy(_._1))
      .localCheckpoint(true)
    val ivfGot = queries.map { case (q, qv) =>
      q -> Ann.ivfTopK(assigned, "embedding", "vec_id", qv, 10, cents)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    val ivfRecall = recall(ivfGot)
    assert(ivfRecall >= 0.9,
      s"ivfTopK recall@10 at default nprobe=2 fell to $ivfRecall")

    // LSH at the default bits = 8, probeHamming = 1
    val bucketed = Ann.lshBuckets(corpus, "embedding", "vec_id")
      .localCheckpoint(true)
    val lshGot = queries.map { case (q, qv) =>
      q -> Ann.lshTopK(bucketed, "embedding", "vec_id", qv, 10)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    val lshRecall = recall(lshGot)
    assert(lshRecall >= 0.9,
      s"lshTopK recall@10 at default bits=8/probeHamming=1 fell to $lshRecall")
  }
}
