package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.sim.EmbeddingOps

/** Recall of the IVF probe family as an ASSERTED bound, not bench prose.
  *
  * The driver testdata embeddings are isotropic (uniform directions), so
  * absolute recall numbers there are meaningless — a coarse quantizer
  * cannot beat random cell assignment on structureless data. This spec
  * builds a CLUSTERED synthetic corpus (8 well-separated centers, small
  * deterministic perturbations — the regime IVF exists for) and asserts
  * the two contracts that must hold for the probe to be useful:
  *
  *  1. recall@5(nprobe=3) >= recall@5(nprobe=1) — widening the probe can
  *     only add candidates;
  *  2. on clustered data, recall@5(nprobe=1) is high (>= 0.8): the query
  *     routes to its own cluster where its true neighbors live.
  */
class IvfRecallSpec extends SparkSpec {

  private val DIM = 64
  private val K = 8          // clusters; queries are vec_id < 8, one per cluster
  private val PER_CLUSTER = 40

  /** Deterministic small perturbation in [-0.1, 0.1] from (id, dim). */
  private def jitter(id: Long, j: Int): Float =
    ((id * 1315423911L + j * 2654435761L) % 1000L) / 5000.0f - 0.1f

  /** Writes the clustered corpus as an embeddings.parquet dir-layout the
    * EmbeddingOps (s, dir) API reads: cluster c's center is 10.0 on dims
    * [8c, 8c+8) and 0 elsewhere — mutually orthogonal, far apart.
    */
  private lazy val clusteredDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_recall").toString
    val rows = (0L until (K * PER_CLUSTER).toLong).map { id =>
      val c = (id % K).toInt // vec_id 0..7 = one query per cluster
      val v = Array.tabulate(DIM) { j =>
        val base = if (j >= 8 * c && j < 8 * (c + 1)) 10.0f else 0.0f
        base + jitter(id, j)
      }
      Row(id, v.toSeq, c)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** recall@5 of `got` against the brute-force ground truth. */
  private def recallAt5(truth: Map[(Long, Long), Int], got: DataFrame): Double = {
    val hits = got.select("query_id", "vizinho").collect()
      .count(r => truth.contains((r.getLong(0), r.getLong(1))))
    hits.toDouble / truth.size
  }

  test("IVF probe recall on a clustered corpus: nprobe=3 >= nprobe=1 >= 0.8") {
    val truth = EmbeddingOps.annBruteForce(spark, clusteredDir)
      .select("query_id", "vizinho").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> 1).toMap
    assert(truth.size === K * 5, "ground truth must be 8 queries x top-5")

    val r1 = recallAt5(truth, EmbeddingOps.annIvfProbe(spark, clusteredDir, 1))
    val r3 = recallAt5(truth, EmbeddingOps.annIvfProbe(spark, clusteredDir, 3))
    assert(r3 >= r1, s"widening the probe must not lose neighbors: " +
      s"recall(3)=$r3 < recall(1)=$r1")
    assert(r1 >= 0.8, s"on well-separated clusters a 1-probe IVF must find " +
      s"most true neighbors in the routed cell, got $r1")

    // the trained quantizer must do as well as the label oracle cells on
    // data this separable (Lloyd converges to the true centers)
    val rk1 = recallAt5(truth, EmbeddingOps.annIvfKmeansProbe(spark, clusteredDir, 1))
    val rk3 = recallAt5(truth, EmbeddingOps.annIvfKmeansProbe(spark, clusteredDir, 3))
    assert(rk3 >= rk1, s"kmeans probe: recall(3)=$rk3 < recall(1)=$rk1")
    assert(rk1 >= 0.8, s"trained quantizer on separable clusters, got $rk1")
  }

  test("hard-negative recall: probing more cells recovers more cross-label near-misses") {
    val truth = EmbeddingOps.hardNegatives(spark, clusteredDir)
      .select("query_id", "vizinho").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> 1).toMap
    assert(truth.size === K * 5, "brute ground truth: 8 queries x top-5")
    val r2 = recallAt5(truth,
      EmbeddingOps.hardNegativesIvf(spark, clusteredDir, 2))
    val r4 = recallAt5(truth,
      EmbeddingOps.hardNegativesIvf(spark, clusteredDir, 4))
    assert(r4 >= r2, s"widening the probe must not lose negatives: " +
      s"recall(4)=$r4 < recall(2)=$r2")
    // every label lives in its own cell here, so the query's own cell
    // holds NO negatives — the probe's extra cells are where all the
    // cross-label near-misses are; with 3 extra cells of 7 possible the
    // probe must recover a meaningful share
    assert(r4 > 0.0, "the widened probe must find cross-label near-misses")
  }

  test("exact re-rank repairs ADC quantization error: refined recall@5 strictly above the unrefined probe") {
    import org.apache.spark.sql.functions._
    // ground truth here is the exact-L2 top-5 (the metric the PQ family
    // ranks by), on the REAL testdata corpus — the regime where ADC's
    // quantization error actually costs recall
    val base = spark.read.parquet(s"$tiny/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val q = base.filter(col("vec_id") < 8).toDF("query_id", "q_emb")
    val sims = broadcast(q).crossJoin(base)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        (-graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("embedding")))
          .as("sim"),
        col("vec_id"))
    val truth = EmbeddingOps.rankViaTopK(spark, sims)
      .select("query_id", "vizinho").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> 1).toMap
    val unrefined = recallAt5(truth, EmbeddingOps.annIvfPq(spark, tiny))
    val refined = recallAt5(truth, EmbeddingOps.annIvfPqRefined(spark, tiny))
    assert(refined > unrefined,
      s"re-scoring the top-${4 * 5} ADC candidates with exact vectors must " +
        s"recover neighbors ADC misranked: refined=$refined unrefined=$unrefined")
  }

  test("index churn (append+delete) does not degrade recall vs a fresh survivor index") {
    import org.apache.spark.sql.functions._
    // the r13 verdict's blind spot: an index whose recall silently
    // degrades under append/delete churn passes every exactness gate
    // (they pin the algorithm, not the quality). Pin it here: on the
    // clustered corpus, the lifecycle-churned index (build 9/10 →
    // cell-append 1/10 → tombstone the mod-5 victims) must score within
    // ε of the SAME survivor corpus indexed fresh, against brute-force
    // survivor truth. ε = 0.1 (= one neighbor of 8×5 truth pairs, plus
    // slack for slice-trained-codebook drift); a churn bug that drops a
    // cell or mis-masks loses far more.
    val base = spark.read.parquet(s"$clusteredDir/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val surv = base.filter(!EmbeddingOps.DeleteVictims)
    val truthSurv = graft.sim.RecallBench.bruteOver(spark, surv)
      .select("query_id", "vizinho").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> 1).toMap
    assert(truthSurv.size === K * 5)

    val churnedPq = recallAt5(truthSurv,
      EmbeddingOps.annIvfPqDeleted(spark, clusteredDir))
    val freshPqDir = java.nio.file.Files
      .createTempDirectory("graft_recall_fpq").toString
    EmbeddingOps.buildIvfPqIndexOn(spark, surv, surv, freshPqDir)
    val freshPq = recallAt5(truthSurv,
      EmbeddingOps.annIvfPqIndexed(spark, clusteredDir, freshPqDir))
    assert(churnedPq >= freshPq - 0.1,
      s"IVF-PQ recall degraded under churn: churned=$churnedPq fresh=$freshPq")

    val churnedKm = recallAt5(truthSurv,
      EmbeddingOps.annIvfKmeansDeleted(spark, clusteredDir))
    val freshKmDir = java.nio.file.Files
      .createTempDirectory("graft_recall_fkm").toString
    EmbeddingOps.buildIvfIndexKmeansOn(spark, surv, surv, freshKmDir,
      "recall-spec-fresh-surv")
    val freshKm = recallAt5(truthSurv,
      EmbeddingOps.annIvfKmeansIndexed(spark, clusteredDir, freshKmDir))
    assert(churnedKm >= freshKm - 0.1,
      s"IVF recall degraded under churn: churned=$churnedKm fresh=$freshKm")

    // the residual-encoded family must carry the same pin: its append
    // path re-encodes arrivals' RESIDUALS under the stored trainings,
    // so a centroid/codebook mismatch between build and append would
    // show up here as a recall drop the exactness gates can't see
    val churnedRes = recallAt5(truthSurv,
      EmbeddingOps.annIvfPqDeleted(spark, clusteredDir, residual = true))
    val freshResDir = java.nio.file.Files
      .createTempDirectory("graft_recall_fres").toString
    EmbeddingOps.buildIvfPqIndexOn(spark, surv, surv, freshResDir, residual = true)
    val freshRes = recallAt5(truthSurv,
      EmbeddingOps.annIvfPqIndexed(spark, clusteredDir, freshResDir, residual = true))
    assert(churnedRes >= freshRes - 0.1,
      s"residual IVF-PQ recall degraded under churn: " +
        s"churned=$churnedRes fresh=$freshRes")
  }
}
