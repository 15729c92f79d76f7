package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ANN result QUALITY at adaptive-K scale — the r18 verdict's #1 gap:
  * above 32k vectors the graph-family builds size their quantizer with
  * `adaptiveK` (K = N/4000), where the DuckDB oracle's k-means unroll
  * no longer applies, so the 200k-vector sf10 rows were bench-only.
  * This probe closes it with the self-consistency route the verdict
  * sanctioned: brute-force cosine top-5 over the staged corpus is the
  * truth set (and `q_ann_brute` itself is DuckDB-oracle-gated at the
  * same staged dir — the truth source is externally verified, see
  * SCALE_VERIFY_r19.md), and every indexed family's recall@5 against
  * that truth goes on record, with build and serve seconds beside it.
  *
  * Families measured: the two the verdict named (graph-routed, IVF
  * k-means) plus the plain graph, xcell graph, and SQ8 serves — the
  * production candidates at 100 TB. Each index is built fresh into a
  * probe-owned dir (no fingerprint reuse: the point is to price THIS
  * corpus's build), at exactly the K the production builder picks.
  *
  * Reproduce: `tools/run.sh graft.sim.RecallAtScale /tmp/graft_sf10`
  * (any staged dir with an embeddings.parquet works; sf0.1 gives the
  * gated-scale sanity row where the oracle-checked gates also run).
  */
object RecallAtScale {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf10"))
    // The graph builds' kNN tails aggregate through bounded typed
    // states (TopKByScore); Spark's ObjectHashAggregate falls back to
    // SORT-BASED aggregation after 128 distinct groups per task, which
    // re-sorts the un-aggregated candidate stream — 8×10⁹ rows ≈
    // 300 GB of local sort spill at 2M vectors, more than this box's
    // disk (measured: the sf100 graph build dies in
    // UnsafeExternalSorter with disk-full). On a 1000-executor cluster
    // that spill is ~300 MB/executor and the default is the robust
    // choice; on one box the hash path (states stay O(R) per src, a
    // few hundred thousand per task) is the only one that completes —
    // at a measured ~1.4× sf10 build cost. The knob prices the trade.
    val fallback = sys.env.getOrElse("SPARK_GRAFT_AGG_FALLBACK_THRESHOLD",
      "128")
    val spark = graft.GraftSession.open(sfDir)
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      fallback)

    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    val truth = EmbeddingOps.annBruteForce(spark, sfDir).cache()
    truth.count(): Unit

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    out("n_vectors") = nVecs.toDouble

    def work = java.nio.file.Files
      .createTempDirectory("graft_recall_scale").toString

    // SPARK_GRAFT_RECALL_ONLY=substr,substr runs a subset — the xcell
    // build is ~5× the graph build's cost, and the sf100 (2M-vector)
    // point is only tractable family-by-family
    val only = sys.env.get("SPARK_GRAFT_RECALL_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

    /** build once (timed), serve twice (second serve timed warm),
      * recall of the served ranking vs brute truth.
      */
    def family(name: String)(build: String => Unit)(
        serve: String => DataFrame): Unit = {
      if (only.nonEmpty && !only.exists(name.contains)) return
      try {
        val dir = work
        val t0 = System.nanoTime()
        build(dir)
        out(s"${name}_build_sec") = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val first = serve(dir)
        out(s"${name}_recall_at_5") = RecallBench.recall(truth, first)
        out(s"${name}_serve_cold_sec") = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        serve(dir).collect(): Unit
        out(s"${name}_serve_warm_sec") = (System.nanoTime() - t2) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[recall-at-scale] $name failed: ${e.getMessage}")
        out(s"${name}_recall_at_5") = -1.0
      }
    }

    family("ivf_kmeans") { d =>
      EmbeddingOps.buildIvfIndexKmeansOn(spark,
        corpusOf(spark, sfDir), corpusOf(spark, sfDir), d,
        s"recall-at-scale:$sfDir")
    } { d => EmbeddingOps.annIvfKmeansIndexed(spark, sfDir, d) }

    family("graph") { d =>
      EmbeddingOps.buildGraphIndexOn(spark, corpusOf(spark, sfDir), d,
        knownN = nVecs)
    } { d => EmbeddingOps.annGraphIndexed(spark, sfDir, d) }

    family("graph_routed") { d =>
      EmbeddingOps.buildGraphIndexOn(spark, corpusOf(spark, sfDir), d,
        knownN = nVecs)
      EmbeddingOps.buildGraphLayerOn(spark, d)
    } { d => EmbeddingOps.annGraphRoutedIndexed(spark, sfDir, d) }

    family("graph_xcell") { d =>
      EmbeddingOps.buildGraphXcellIndexOn(spark, corpusOf(spark, sfDir), d,
        knownN = nVecs)
    } { d => EmbeddingOps.annGraphXcellIndexed(spark, sfDir, d) }

    family("sq8") { d =>
      EmbeddingOps.buildSq8IndexOn(spark,
        corpusOf(spark, sfDir), corpusOf(spark, sfDir), d)
    } { d => EmbeddingOps.annSq8Indexed(spark, sfDir, d) }

    val qs = out.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"ann_recall_at_scale","sf":"$sfDir","rows":$qs}""")
    spark.stop()
  }

  private def corpusOf(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
}
