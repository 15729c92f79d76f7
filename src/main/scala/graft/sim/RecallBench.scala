package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.sim.EmbeddingOps.Sq8Layout

/** Absolute recall@k of every ANN index family against brute-force
  * truth, measured on the gated data at the gated probe parameters —
  * and RE-measured after the append → delete → compact lifecycle, so an
  * index whose recall silently degrades under churn shows up as a
  * number, not a hash mismatch the exactness gates structurally cannot
  * see (r13 VERDICT "What's missing" #2).
  *
  * k = 5 — the TOP_K every gate and serve path in [[EmbeddingOps]]
  * runs; measuring a k nothing serves would price a phantom path.
  *
  * Two truth sets, because churn changes the corpus: fresh indexes are
  * scored against brute truth over the FULL corpus; churned indexes
  * (build 9/10 → append 1/10 → tombstone the mod-5 victims) against
  * brute truth over the SURVIVORS — each recall is internally
  * consistent. The churn-degradation question ("did slice-trained
  * codebooks + appended cells lose recall?") is answered by the
  * `*_fresh_surv` rows: the SAME survivor corpus indexed fresh, so
  * `churned` vs `fresh_surv` isolates lifecycle effects from content.
  *
  * Prints one JSON line; reproduce with
  * `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.sim.RecallBench"`.
  */
object RecallBench {

  /** recall@k: fraction of truth (query, neighbor) pairs the served
    * ranking retrieved. Both sides are 8 queries × top-5 — O(k) rows.
    */
  def recall(truth: DataFrame, served: DataFrame): Double = {
    val t = truth.select("query_id", "vizinho").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = served.select("query_id", "vizinho").collect()
      .count(r => t.contains((r.getLong(0), r.getLong(1))))
    hits.toDouble / t.size
  }

  /** Brute-force cosine top-5 over an arbitrary candidate base — the
    * survivor-corpus truth the churned indexes are scored against.
    */
  private[graft] def bruteOver(s: SparkSession, base: DataFrame): DataFrame = {
    val q = base.filter(col("vec_id") < 8).toDF("query_id", "q_emb")
    val sims = broadcast(q).crossJoin(base)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        graft.functions.GraftFunctions.cosine_sim(col("q_emb"), col("embedding"))
          .as("sim"),
        col("vec_id"))
    EmbeddingOps.rankViaTopK(s, sims)
  }

  /** Brute-force exact-L2 top-5 — the truth metric the PQ/ADC family
    * actually serves (ADC approximates squared L2, not cosine). On an
    * unnormalized corpus the two metrics genuinely disagree, so scoring
    * an L2-serving index against cosine truth conflates quantization
    * loss with metric mismatch; the `*_vs_l2` rows isolate the
    * quantizer's own contribution.
    */
  private[graft] def bruteL2Over(s: SparkSession, base: DataFrame): DataFrame = {
    val q = base.filter(col("vec_id") < 8).toDF("query_id", "q_emb")
    val sims = broadcast(q).crossJoin(base)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        (-graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("embedding")))
          .as("sim"),
        col("vec_id"))
    EmbeddingOps.rankViaTopK(s, sims)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.open(sfDir)

    val base = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val truthFull = EmbeddingOps.annBruteForce(spark, sfDir).cache()
    truthFull.count(): Unit
    val truthSurv = bruteOver(spark,
      base.filter(!EmbeddingOps.DeleteVictims)).cache()
    truthSurv.count(): Unit

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def row(name: String, truth: DataFrame)(served: => DataFrame): Unit =
      out(name) =
        try recall(truth, served)
        catch { case e: Throwable =>
          System.err.println(s"[recall] $name failed: ${e.getMessage}"); -1.0
        }

    // fresh indexes at the gated probe parameters, vs full-corpus truth
    row("ivf", truthFull) { EmbeddingOps.annIvfIndexedAuto(spark, sfDir) }
    row("ivf_kmeans", truthFull) {
      EmbeddingOps.annIvfKmeansIndexedAuto(spark, sfDir)
    }
    row("pq", truthFull) { EmbeddingOps.annPqIndexedAuto(spark, sfDir) }
    row("ivfpq", truthFull) { EmbeddingOps.annIvfPqIndexedAuto(spark, sfDir) }
    row("ivfpq_refined", truthFull) {
      EmbeddingOps.annIvfPqRefinedIndexedAuto(spark, sfDir)
    }
    // residual-encoded codebooks (Jégou et al.) — the r14 verdict's
    // one real quality lever: same code budget, spent on within-cell
    // detail instead of raw-corpus variance
    row("ivfpq_residual", truthFull) {
      EmbeddingOps.annIvfPqIndexedAuto(spark, sfDir, residual = true)
    }

    // the code-budget lever at matched encodings: K=64 per subspace
    // (24-bit codes, still 10⁄1 compression) for BOTH the raw-trained
    // and residual-trained codebooks — residual vs raw at equal budget,
    // and wide vs narrow within each family
    locally {
      val dir = s"${Scratch.tempDir("graft_recall_k64_raw_")}/idx"
      row("ivfpq_k64", truthFull) {
        EmbeddingOps.buildIvfPqIndexOn(spark, base, base, dir, k = 64)
        EmbeddingOps.annIvfPqIndexed(spark, sfDir, dir)
      }
    }
    row("ivfpq_residual_k64", truthFull) {
      EmbeddingOps.annIvfPq(spark, sfDir, residual = true, k = 64)
    }
    // the subspace-split lever: error ~ K^(−2/d) per subspace, so
    // halving d beats doubling K — M=8×8d and M=16×4d at K=8
    row("ivfpq_residual_m8", truthFull) {
      EmbeddingOps.annIvfPq(spark, sfDir, residual = true, m = 8)
    }
    row("ivfpq_residual_m16", truthFull) {
      EmbeddingOps.annIvfPq(spark, sfDir, residual = true, m = 16)
    }
    row("ivfpq_residual_m16_k16", truthFull) {
      EmbeddingOps.annIvfPq(spark, sfDir, residual = true, k = 16, m = 16)
    }

    // SQ8 scalar quantization — the 4×-compression point: per-dim 8-bit
    // error is small enough that compressed-domain ranking should sit
    // near the L2-vs-cosine ceiling WITHOUT a refine stage, unlike PQ
    row("sq8", truthFull) { EmbeddingOps.annSq8IndexedAuto(spark, sfDir) }
    row("sq8_refined", truthFull) { EmbeddingOps.annSq8Refined(spark, sfDir) }
    // the composed route+SQ8 serve: should hold the kmeans family's
    // routing ceiling (cell pruning costs recall only via routing, and
    // in-cell SQ8 ranking is near-exact)
    row("ivfsq8", truthFull) { EmbeddingOps.annSq8(spark, sfDir, Sq8Layout.Ivf) }
    row("ivfsq8_refined", truthFull) {
      EmbeddingOps.annSq8Refined(spark, sfDir, Sq8Layout.Ivf)
    }
    row("ivfsq8_probe2", truthFull) {
      EmbeddingOps.annSq8(spark, sfDir, Sq8Layout.Ivf, nProbe = 2)
    }

    // graph ANN (r16): the H-hop beam walk should hold the routed-cell
    // exhaustive ceiling (= ivf_kmeans) while paying |visited| exact
    // reads per query instead of the whole routed cell — the economics
    // that undercut the refine family's fixed c-deep shortlist.
    // graph_reads_per_query is that |visited| mean; compare it to the
    // refine rows' c (20–160 point lookups) and to the mean cell size.
    row("graph", truthFull) { EmbeddingOps.annGraphIndexedAuto(spark, sfDir) }
    out("graph_reads_per_query") = {
      val per = EmbeddingOps.graphVisited(spark, sfDir)
        .groupBy("query_id").count().collect().map(_.getLong(1))
      per.sum.toDouble / per.length
    }
    // the DiskANN composition: the walk guided by 4× SQ8 codes, exact
    // re-rank only over the visited set — compressed guidance should
    // cost nothing here (SQ8's per-candidate error ≪ the neighbor gap)
    row("graph_sq8", truthFull) { EmbeddingOps.annGraphSq8(spark, sfDir) }
    // the churn question, graph edition: the masked hole-y walk and the
    // compacted re-linked walk, each vs survivor truth
    row("graph_churned", truthSurv) { EmbeddingOps.annGraphDeleted(spark, sfDir) }
    row("graph_churned_compacted", truthSurv) {
      EmbeddingOps.annGraphDeletedCompacted(spark, sfDir)
    }
    // centroid-layer routing (r17): entry cells picked by greedy
    // descent over the symmetrized centroid kNN graph — PC probed
    // cells per query at O(deg·BC·HC) centroid evaluations instead of
    // the flat O(cells) scan. graph_routed_cellevals prices the
    // routing itself; the (P, B, H) frontier asks whether two probed
    // cells let a NARROWER walk hold the ceiling the own-cell serve
    // needs b4_h2's 15.5 reads for.
    row("graph_routed", truthFull) { EmbeddingOps.annGraphRouted(spark, sfDir) }
    for ((p, b, h) <- Seq((2, 2, 2), (2, 4, 2), (1, 4, 2), (2, 8, 3),
        // the narrow end: can TWO routed entry points hold the ceiling
        // with a walk narrower than the own-cell b2_h2 floor (15.5)?
        (2, 1, 1), (2, 1, 2), (2, 2, 1), (1, 2, 2))) {
      val (ranked, visited, routeCells) =
        EmbeddingOps.graphRoutedFrontierPoint(spark, sfDir, p, b, h)
      row(s"graph_routed_p${p}_b${b}_h$h", truthFull) { ranked }
      out(s"graph_routed_p${p}_b${b}_h${h}_reads") = {
        val per = visited.groupBy("query_id").count().collect()
          .map(_.getLong(1))
        per.sum.toDouble / per.length
      }
      out(s"graph_routed_p${p}_b${b}_h${h}_cellevals") = {
        val per = routeCells.groupBy("query_id").count().collect()
          .map(_.getLong(1))
        per.sum.toDouble / per.length
      }
    }

    // multi-entry restarts (r18, the residual confirmation): descent
    // seeded from the population pick PLUS E-1 farthest-point centroids
    // — if the 0.975 ceiling were a greedy-local-minimum artifact, a
    // restart from the far side of centroid space would break it; if it
    // holds at E=2..4 (with the extra cellevals priced beside it), the
    // ceiling is corpus truth, as the r18 diagnosis found (BENCH.md,
    // SCALE_VERIFY_r18 part 3).
    for ((e, p, b, h) <- Seq((2, 2, 2, 2), (2, 2, 4, 2), (4, 2, 4, 2))) {
      val (ranked, visited, routeCells) =
        EmbeddingOps.graphRoutedFrontierPoint(spark, sfDir, p, b, h, e)
      row(s"graph_routed_e${e}_p${p}_b${b}_h$h", truthFull) { ranked }
      out(s"graph_routed_e${e}_p${p}_b${b}_h${h}_reads") = {
        val per = visited.groupBy("query_id").count().collect()
          .map(_.getLong(1))
        per.sum.toDouble / per.length
      }
      out(s"graph_routed_e${e}_p${p}_b${b}_h${h}_cellevals") = {
        val per = routeCells.groupBy("query_id").count().collect()
          .map(_.getLong(1))
        per.sum.toDouble / per.length
      }
    }

    // cross-cell boundary edges (r17): the walk follows vector
    // proximity across cell seams — the only serve that can EXCEED the
    // 0.975 routing ceiling (the missing truth pair sits beyond every
    // probed cell: nprobe 1–4 all stall at 0.975 in the frontier below)
    row("graph_xcell", truthFull) { EmbeddingOps.annGraphXcell(spark, sfDir) }
    // the deep-walk probe: can a longer cross-cell chain reach what NO
    // probed-cell serve can at any setting? (the missing pair's cell
    // ranks 5th+ for its query — multiple seams away)
    for ((p, b, h) <- Seq((2, 8, 3), (2, 2, 2), (2, 1, 2), (2, 8, 5),
        (2, 16, 6))) {
      val (ranked, visited) =
        EmbeddingOps.graphXcellFrontierPoint(spark, sfDir, p, b, h)
      row(s"graph_xcell_p${p}_b${b}_h$h", truthFull) { ranked }
      out(s"graph_xcell_p${p}_b${b}_h${h}_reads") = {
        val per = visited.groupBy("query_id").count().collect()
          .map(_.getLong(1))
        per.sum.toDouble / per.length
      }
    }

    // churn, xcell edition: the hole-y masked walk vs the one-seam-wide
    // compacted re-link, each against survivor truth — the seam-crossing
    // links should route around holes the per-cell walk cannot
    row("graph_xcell_churned", truthSurv) {
      EmbeddingOps.annGraphXcellDeleted(spark, sfDir)
    }
    row("graph_xcell_churned_compacted", truthSurv) {
      EmbeddingOps.annGraphXcellDeletedCompacted(spark, sfDir)
    }

    // the (B, H) frontier — recall and reads/query from the SAME walk
    // at each knob setting, the graph's analog of the nprobe and
    // refine-depth sweeps: how few exact reads still hold the ceiling
    for ((b, h) <- Seq((2, 2), (4, 2), (4, 3), (8, 3), (16, 4))) {
      val (ranked, visited) = EmbeddingOps.graphFrontierPoint(spark, sfDir, b, h)
      row(s"graph_b${b}_h$h", truthFull) { ranked }
      out(s"graph_b${b}_h${h}_reads") = {
        val per = visited.groupBy("query_id").count().collect()
          .map(_.getLong(1))
        per.sum.toDouble / per.length
      }
    }

    // SQ8 under distribution drift (r16): the whole distribution moves
    // (arrivals AND the query traffic translated +2 per coordinate —
    // distance-preserving within the shifted population, so the shifted
    // queries' true neighbors are exactly the shifted arrivals). Serving the new
    // traffic off the stale training is the silent failure mode the
    // clamp monitor exists to catch: the shifted arrivals' codes
    // saturate at the stored range, their reconstructions collapse to
    // the range boundary, and the new queries' true (L2) neighbors —
    // which are those very arrivals — become unrankable. The monitor
    // fires (rate ≫ 5% threshold) and the retrain (one min/max
    // aggregate + re-encode) restores recall. Truth here is exact L2
    // over the modified corpus with the shifted queries.
    locally {
      val shiftExpr =
        "transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 2.0 AS FLOAT))"
      val arrival = col("vec_id") % 10 === 9
      val shifted = base.withColumn("embedding",
        when(arrival, expr(shiftExpr)).otherwise(col("embedding")))
      val qShift = shifted.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          expr(shiftExpr).as("q_emb"))
      val truthShift = EmbeddingOps.rankViaTopK(spark,
        broadcast(qShift).crossJoin(shifted)
          .filter(col("query_id") =!= col("vec_id"))
          .select(col("query_id"),
            (-graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("embedding")))
              .as("sim"),
            col("vec_id"))).cache()
      truthShift.count(): Unit
      val stale = s"${Scratch.tempDir("graft_recall_sq8_stale_")}/idx"
      row("sq8_shifted_noretrain", truthShift) {
        EmbeddingOps.buildSq8IndexOn(spark, shifted.filter(!arrival), stale)
        out("sq8_shifted_clamp_rate") =
          EmbeddingOps.appendSq8Index(spark, shifted.filter(arrival), stale, 0L)
        EmbeddingOps.annSq8Over(spark,
          EmbeddingOps.sq8Read(spark, Sq8Layout.Flat, stale), qShift)
      }
      val retr = s"${Scratch.tempDir("graft_recall_sq8_retrain_")}/idx"
      row("sq8_shifted_retrained", truthShift) {
        EmbeddingOps.buildSq8IndexOn(spark, shifted, retr)
        EmbeddingOps.annSq8Over(spark,
          EmbeddingOps.sq8Read(spark, Sq8Layout.Flat, retr), qShift)
      }
      // the per-partition lever: retrained GLOBAL min/max spans both
      // populations (wide bins, the 0.90 residual cost above); PER-CELL
      // ranges stay tight because the coarse quantizer separates the
      // populations — q_ann_ivfsq8_cell's training, fed the bimodal
      // corpus and the shifted traffic. Note the truth here is routed
      // (IVF) truth territory: the serve scans one cell, so its ceiling
      // is the routing ceiling, not the full-scan sq8 rows above.
      row("ivfsq8_cell_shifted_retrained", truthShift) {
        EmbeddingOps.annSq8Over(spark,
          EmbeddingOps.sq8Build(Sq8Layout.IvfCell, shifted), qShift)
      }
    }

    // the refine-depth frontier — the lever that actually climbs on a
    // distance-concentrated corpus (unit vectors; 5th-vs-6th neighbor
    // gaps ~0.003 on distances ~1.1, so compressed-domain ranking is
    // noise at any code budget and recall lives in the exact re-rank):
    // recall vs shortlist depth c, cost O(c·|queries|) point lookups
    for (c <- Seq(20, 40, 80, 160)) {
      row(s"ivfpq_refined_c$c", truthFull) {
        EmbeddingOps.annIvfPqRefined(spark, sfDir, c = c)
      }
    }
    row("ivfpq_residual_refined", truthFull) {
      EmbeddingOps.annIvfPqRefined(spark, sfDir, residual = true)
    }
    row("ivfpq_residual_refined_c80", truthFull) {
      EmbeddingOps.annIvfPqRefined(spark, sfDir, residual = true, c = 80)
    }

    // the SAME serves against exact-L2 truth — the metric ADC actually
    // approximates. `l2_vs_cosine_ceiling` is exact L2 scored against
    // cosine truth: the hard cap any L2-serving index has on the
    // cosine-truth rows above, quantization aside.
    val truthL2 = bruteL2Over(spark, base).cache()
    truthL2.count(): Unit
    row("l2_vs_cosine_ceiling", truthFull) { truthL2 }
    row("pq_vs_l2", truthL2) { EmbeddingOps.annPqIndexedAuto(spark, sfDir) }
    row("ivfpq_vs_l2", truthL2) { EmbeddingOps.annIvfPqIndexedAuto(spark, sfDir) }
    row("ivfpq_residual_vs_l2", truthL2) {
      EmbeddingOps.annIvfPqIndexedAuto(spark, sfDir, residual = true)
    }
    row("ivfpq_refined_vs_l2", truthL2) {
      EmbeddingOps.annIvfPqRefinedIndexedAuto(spark, sfDir)
    }
    row("sq8_vs_l2", truthL2) { EmbeddingOps.annSq8IndexedAuto(spark, sfDir) }

    // the lifecycle-churned indexes (build 9/10 → append → delete — the
    // gated constructions), vs survivor truth
    row("ivf_kmeans_churned", truthSurv) {
      EmbeddingOps.annIvfKmeansDeleted(spark, sfDir)
    }
    row("ivfpq_churned", truthSurv) { EmbeddingOps.annIvfPqDeleted(spark, sfDir) }
    row("ivfpq_churned_compacted", truthSurv) {
      EmbeddingOps.annIvfPqDeletedCompacted(spark, sfDir)
    }
    row("ivfpq_refined_churned", truthSurv) {
      EmbeddingOps.annIvfPqRefinedDeleted(spark, sfDir)
    }
    row("ivfpq_residual_churned", truthSurv) {
      EmbeddingOps.annIvfPqDeleted(spark, sfDir, residual = true)
    }
    row("sq8_churned", truthSurv) { EmbeddingOps.annSq8Deleted(spark, sfDir) }

    // the same survivor corpus indexed FRESH — churned vs fresh_surv is
    // the churn-degradation delta proper
    val surv = base.filter(!EmbeddingOps.DeleteVictims)
    locally {
      val dir = s"${Scratch.tempDir("graft_recall_fresh_ivfpq_")}/idx"
      row("ivfpq_fresh_surv", truthSurv) {
        EmbeddingOps.buildIvfPqIndexOn(spark, surv, surv, dir)
        EmbeddingOps.annIvfPqIndexed(spark, sfDir, dir)
      }
    }
    locally {
      val dir = s"${Scratch.tempDir("graft_recall_fresh_ivfpqres_")}/idx"
      row("ivfpq_residual_fresh_surv", truthSurv) {
        EmbeddingOps.buildIvfPqIndexOn(spark, surv, surv, dir, residual = true)
        EmbeddingOps.annIvfPqIndexed(spark, sfDir, dir, residual = true)
      }
    }
    locally {
      val dir = s"${Scratch.tempDir("graft_recall_fresh_sq8_")}/idx"
      row("sq8_fresh_surv", truthSurv) {
        EmbeddingOps.buildSq8IndexOn(spark, surv, dir)
        EmbeddingOps.annSq8Indexed(spark, sfDir, dir)
      }
    }
    locally {
      val dir = s"${Scratch.tempDir("graft_recall_fresh_km_")}/idx"
      row("ivf_kmeans_fresh_surv", truthSurv) {
        EmbeddingOps.buildIvfIndexKmeansOn(spark, surv, surv, dir,
          s"recall-fresh-surv:$sfDir")
        EmbeddingOps.annIvfKmeansIndexed(spark, sfDir, dir)
      }
    }

    // the quality/cost frontier: recall AND serve seconds vs probe width
    // for the trained-quantizer probe — the knob a deployment tunes
    val frontier = (1 to 4).map { np =>
      val t0 = System.nanoTime()
      val served = EmbeddingOps.annIvfKmeansProbe(spark, sfDir, np)
      val r = recall(truthFull, served)
      (np, r, (System.nanoTime() - t0) / 1e9)
    }
    val fr = frontier.map { case (np, r, s) =>
      s"""{"nprobe":$np,"recall":$r,"sec":$s}"""
    }.mkString("[", ",", "]")

    val qs = out.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"ann_recall_at_5","sf":"$sfDir","recall":$qs,"kmeans_frontier":$fr}""")
    spark.stop()
  }
}
