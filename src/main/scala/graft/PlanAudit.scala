package graft

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans for representative queries so scan
  * pruning (ReadSchema/PushedFilters), join strategies (BroadcastHashJoin
  * vs shuffle), aggregate shape (partial+final) and WholeStageCodegen
  * spans can be audited against the 100 TB design goals.
  *
  * Usage:
  *   runMain graft.PlanAudit [sfDir] [query ...]   — whole-lineage plans
  *   runMain graft.PlanAudit --dw [sfDir]          — the Bench phase-2
  *     path: build the star to parquet (StarBench.starBuildTo), then
  *     explain AND time each StarBench.kpiSuite query against the
  *     parquet-backed DW (dims read back from disk, not in-plan), which
  *     is where join-strategy choices differ from the whole-lineage path.
  *   runMain graft.PlanAudit --ext [sfDir]         — ASSERTS the
  *     AutoBroadcastBoundedDims rule fires in the GraftSession every main
  *     opens (it installs graft.plans.GraftExtensions, so gated plans =
  *     bench plans = deployed plans): a freshly derived bounded dim (no
  *     explicit hint) joined under autoBroadcastJoinThreshold=-1 must
  *     plan a BroadcastHashJoin via the rule, and a corpus-growing dim
  *     must NOT. Exits non-zero on failure.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dwMode = args.contains("--dw")
    val extMode = args.contains("--ext")
    val rest = args.filterNot(a => a == "--dw" || a == "--ext")
    val dir = if (rest.nonEmpty) rest(0) else "/root/testdata/sf0.01"
    // every mode audits the shipped session (GraftSession), so the
    // printed plans are the plans Verify, Bench and AwRun execute
    val spark = GraftSession.open(dir)
    if (extMode) { auditExt(spark, dir); spark.stop(); return }
    if (dwMode) auditDw(spark, dir) else {
      val which: Seq[String] =
        if (rest.length > 1) rest.drop(1).toSeq
        else Seq("q_filter_project", "star_fato_vendas", "kpi5_top_produtos",
          "q_agg_stats", "q_dedup_minhash_lsh", "q_ann_brute")
      which.foreach { name =>
        println(s"\n========== $name ==========")
        SparkEntry.queries(name)(spark, dir).explain("formatted")
        // frame construction executes its barriers eagerly; the plan is
        // printed, so the blocks are dead — release between queries
        Checkpoint.releaseAll()
      }
    }
    spark.stop()
  }

  /** Asserts the shipped optimizer rule influences real plans: with the
    * size heuristic disabled (threshold -1, the stand-in for "derived dim
    * with no usable stats"), an UNHINTED lookup against the derived
    * vendedor dim must still plan a BroadcastHashJoin — attributable only
    * to AutoBroadcastBoundedDims — while the corpus-growing cliente dim
    * must stay on the size-driven (shuffled) path.
    */
  private def auditExt(spark: SparkSession, dir: String): Unit = {
    import graft.etl.Star
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val l = graft.Tables.lineitem(spark, dir)
    val dv = Star.dimVendedor(spark, dir)
      .select("sk_vendedor", "id_vendedor_original")
    val hinted = l.join(dv, l("l_suppkey") === dv("id_vendedor_original"), "left")
    val hintedPlan = hinted.queryExecution.executedPlan.toString
    val o = graft.Tables.orders(spark, dir)
    val dc = Star.dimCliente(spark, dir)
      .select("sk_cliente", "id_cliente_original")
    val corpus = o.join(dc, o("o_custkey") === dc("id_cliente_original"), "left")
    val corpusPlan = corpus.queryExecution.executedPlan.toString
    // the dims' INTERNAL nation/region joins carry explicit broadcast()
    // hints, so BroadcastHashJoin presence alone can't attribute the rule;
    // the outer lookup is the only join left that COULD sort-merge — its
    // strategy is read off SortMergeJoin presence/absence
    val okBounded = !hintedPlan.contains("SortMergeJoin") &&
      hintedPlan.contains("BroadcastHashJoin")
    val okCorpus = corpusPlan.contains("SortMergeJoin")
    println(s"[ext-audit] derived bounded dim broadcasts via rule: $okBounded")
    println(s"[ext-audit] corpus-growing dim stays shuffled:       $okCorpus")
    if (!okBounded) println(hintedPlan)
    if (!okCorpus) println(corpusPlan)
    if (!(okBounded && okCorpus)) {
      System.err.println("[ext-audit] FAIL")
      spark.stop()
      sys.exit(1)
    }
    println("[ext-audit] PASS")
  }

  /** Bench phase 1+2 itself: build the star with StarBench.starBuildTo,
    * then explain and time each query of StarBench.kpiSuite, i.e. the
    * plans that serve.
    */
  private def auditDw(spark: SparkSession, dir: String): Unit = {
    val dw = s"${Scratch.tempDir("graft_planaudit_dw_")}/dw"
    StarBench.starBuildTo(spark, dir, dw)
    StarBench.kpiSuite(spark, dw).foreach { case (name, q) =>
      val df = q()
      println(s"\n========== DW $name ==========")
      df.explain("formatted")
      (1 to 3).foreach { rep =>
        val t0 = System.nanoTime()
        df.collect()
        println(f"[$name rep $rep] ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
  }
}
