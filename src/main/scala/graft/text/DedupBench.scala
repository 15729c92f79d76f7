package graft.text

import org.apache.spark.sql.functions._

/** Banding recall of the probabilistic dedup family against exact
  * truth — the quality axis the exactness gates structurally cannot
  * see (the RecallBench argument, applied to dedup): the MinHash-LSH
  * gate is bit-exact against its oracle, but both compute the SAME
  * banded candidate set, so neither says how many TRUE near-dup pairs
  * the 4×2 banding finds in the first place. Classic LSH theory says
  * a pair at Jaccard s collides in ≥1 of b bands of r rows with
  * p = 1 − (1 − s^r)^b — for the family's 8-hash 4×2 layout that is
  * 0.68 at s=0.5 rising to ~1 at s→1; this main MEASURES the curve on
  * the gated corpus, per Jaccard bucket, next to the theory value.
  *
  * Truth needs no quadratic pass: the prefix-filtered SSJoin
  * ([[TextOps.jaccardPairs]], the q_dedup_jaccard gate) is EXACT at
  * its threshold, so its t=0.5 output IS the true pair set. The same
  * pairs also get their SimHash64 Hamming distance — the fraction
  * within the q_dedup_simhash64 family's ≤3 cut is that fingerprint's
  * sensitivity to lexical near-duplication, measured on real pairs.
  *
  * One JSON line; reproduce with
  * `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.text.DedupBench"`.
  */
object DedupBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.open(sfDir)
    graft.functions.GraftFunctions.register(spark)

    // blockBuckets=false: the prefix filter alone guarantees no >=t
    // pair is lost, so this IS the exact same-lang truth set — the
    // gate's (size/20) bucket block would silently drop boundary-
    // straddling pairs from the recall denominator
    val truth = TextOps.jaccardPairs(spark, sfDir, 0.5, blockBuckets = false)
      .select("doc_a", "doc_b", "jaccard")
    val cands = TextOps
      .minhashLshOf(spark, graft.Tables.documents(spark, sfDir))
      .select(col("doc_a"), col("doc_b"), lit(1).as("hit"))
    val sigs = graft.Tables.documents(spark, sfDir)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
        s"${TextExprs.tokens("text").spark} AS toks")
      .selectExpr("doc_id", "simhash64(toks) AS sig")

    val rows = truth
      .join(cands, Seq("doc_a", "doc_b"), "left")
      .join(sigs.toDF("doc_a", "sig_a"), Seq("doc_a"))
      .join(sigs.toDF("doc_b", "sig_b"), Seq("doc_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      // Jaccard deciles from the threshold up (explicit boundary
      // compares — floor((j-0.5)/0.1) misbins exact boundary values
      // like 0.6 under binary floating point); 1.0 folds into the top
      .withColumn("b", when(col("jaccard") < 0.6, 0)
        .when(col("jaccard") < 0.7, 1).when(col("jaccard") < 0.8, 2)
        .when(col("jaccard") < 0.9, 3).otherwise(4))
      .groupBy("b")
      .agg(count(lit(1)).as("n"),
        sum(when(col("hit").isNotNull, 1).otherwise(0)).as("lsh_found"),
        sum(when(col("hamming") <= 3, 1).otherwise(0)).as("sim_le3"))
      .orderBy("b")
      .collect()

    val buckets = rows.map { r =>
      val b = r.getInt(0)
      val lo = 0.5 + b * 0.1
      val mid = lo + 0.05
      val theory = 1.0 - math.pow(1.0 - mid * mid, 4)
      val n = r.getLong(1)
      val label = f"[$lo%.2f,${lo + 0.1}%.2f)"
      s"""{"jaccard":"$label","n":$n,""" +
        s""""lsh_recall":${r.getLong(2).toDouble / n},""" +
        s""""lsh_theory":$theory,"simhash_le3":${r.getLong(3).toDouble / n}}"""
    }.mkString("[", ",", "]")
    val nAll = rows.map(_.getLong(1)).sum
    val foundAll = rows.map(_.getLong(2)).sum
    val overall = // a corpus with no true pairs has no recall to report
      if (nAll == 0) "null" else (foundAll.toDouble / nAll).toString
    println(s"""{"metric":"dedup_banding_recall","sf":"$sfDir",""" +
      s""""n_true_pairs":$nAll,"lsh_overall":$overall,""" +
      s""""buckets":$buckets}""")
    spark.stop()
  }
}
