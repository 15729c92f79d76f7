package graft

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.etl.Star
import graft.kpi.Kpis

/** Benchmark main — prints ONE JSON line with per-query seconds.
  *
  * Mirrors the reference's lifecycle (BASELINE.md): the ETL builds and
  * SINKS the star once (`etl_star_build`, comparable to the reference's
  * ~19.8 s six-task pipeline), then the KPI suite queries the MATERIALIZED
  * DW (comparable to KPIs.sql against loaded Postgres). Extension
  * operators (dedup/ANN/text/streaming-twin) run self-contained on the raw
  * tables.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    // the shipped optimizer rule (AutoBroadcastBoundedDims) runs in every
    // measured plan, exactly as a deployment installs it (see PlanAudit
    // --ext for the plan-level assertion)
    val spark = GraftSession.open(sfDir)
    // phase 4's bucketed tables land in the session's own warehouse
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath

    // SPARK_GRAFT_BENCH_REPS > 1 repeats each query and reports the MIN —
    // run-to-run noise on this box is ±10%; min is the standard
    // noise-floor estimator. Default 3: two rounds of bench data were lost
    // to single-shot variance questions; ~2 extra minutes buys settled
    // numbers. (rep 1 of etl_star_build is still the COLD number the
    // baseline comparison wants, so it is reported separately below.)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val times = mutable.LinkedHashMap.empty[String, Double]
    // executed-plan fingerprints for the star-build rows, emitted INTO
    // the artifact (r15 verdict #7): the load-vs-plan-flip question a
    // future out-of-band row raises is then self-adjudicating — compare
    // the fingerprint, not precedent
    val plans = mutable.LinkedHashMap.empty[String, String]
    // per-row JVM health (r16 verdict #6): GC-time delta across the
    // row's reps and JVM uptime at row end, INTO the artifact — the
    // phash row flapped four rounds before mid-suite GC/checkpoint
    // pressure was diagnosed by hand; with these fields an out-of-band
    // row self-adjudicates (large gc_ms at deep uptime = JVM context,
    // not a plan or code regression). Row ORDER stays fixed on purpose:
    // reordering the sensitive rows first would change the mid-suite
    // context of everything after them and break round-over-round
    // comparability of the whole artifact.
    val jvmHealth = mutable.LinkedHashMap.empty[String, String]
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // per-row executor telemetry (r21 verdict #1): summed task run time is
    // load-invariant-ish (ambient tenant bursts inflate wall-clock, not
    // task CPU), so a row whose wall is over band but whose task_s matches
    // history self-adjudicates as ambient; peak_mb (max per-task execution
    // memory) and store_mb (block-manager RDD footprint at row end)
    // adjudicate the memory-pressure alternative. All three land in the
    // artifact's `jvm` map beside gc_ms.
    val taskMsTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong(0L)
    // host-level vCPU steal (r22, second pass): task_s is task WALL time
    // (executorRunTime), so hypervisor steal inflates it exactly like a
    // code regression would — the one ambient signature the r21/r22
    // telemetry could not separate. /proc/stat's steal counter (jiffies a
    // vCPU was runnable but the host ran another tenant) is the direct
    // measurement: steal_s high across unrelated rows = host contention,
    // not code. USER_HZ is fixed at 100 for the /proc ABI. Returns -1
    // where unreadable (non-Linux); a row any of whose snapshots failed
    // renders steal_s=-1.0 — never 0-vs-missing ambiguity.
    def stealJiffies(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().find(_.startsWith("cpu "))
          .map(_.trim.split("\\s+"))
          .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
        finally src.close()
      } catch { case _: Throwable => -1L }
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskMsTotal.addAndGet(m.executorRunTime)
          var cur = peakTaskMem.get()
          while (m.peakExecutionMemory > cur &&
            !peakTaskMem.compareAndSet(cur, m.peakExecutionMemory))
            cur = peakTaskMem.get()
        }
      }
    })
    def storeMb(): Long =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum >> 20
    // one timed run: wall seconds (-1.0 when the body throws, so a
    // failed query is unmistakable in BENCH json, not a suspiciously-fast
    // timing) and the GC ms, task ms, steal jiffies (-1 when a snapshot
    // failed) and peak task execution memory across it
    final case class Rep(sec: Double, gc: Long, task: Long, steal: Long, peak: Long)
    def rep(name: String)(f: => Unit): Rep = {
      val gc0 = gcMillis()
      val task0 = taskMsTotal.get()
      val steal0 = stealJiffies()
      peakTaskMem.set(0L)
      val t0 = System.nanoTime()
      val s =
        try { f; (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        } finally {
          // barrier-block hygiene BETWEEN reps, outside the timed region:
          // the rep's action has fully materialized, its frames are
          // discarded, so its localCheckpoint blocks are dead weight —
          // without this a 1000 s session accumulates every row's
          // barriers in the block manager (the r21 32-core anomaly)
          Checkpoint.releaseAll()
        }
      val steal1 = stealJiffies()
      Rep(s, gcMillis() - gc0, taskMsTotal.get() - task0,
        if (steal0 < 0 || steal1 < 0) -1L else steal1 - steal0, peakTaskMem.get())
    }
    // a row's time is the min over its reps (-1 if any failed); its health
    // sums GC, task time and steal over ITS OWN reps (one failed steal
    // snapshot poisons the sum to -1) and takes their peak memory
    def record(name: String, runs: Seq[Rep]): Unit = {
      times(name) = if (runs.exists(_.sec == -1.0)) -1.0 else runs.map(_.sec).min
      val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000
      val steal = runs.map(_.steal).reduce((a, b) => if (a < 0 || b < 0) -1L else a + b)
      val stealS = // USER_HZ = 100 (fixed /proc ABI)
        if (steal < 0) -1.0 else steal / 100.0
      val taskS = runs.map(_.task).sum / 1000.0
      jvmHealth(name) = s"gc_ms=${runs.map(_.gc).sum} uptime_s=$up " +
        f"task_s=$taskS%.1f peak_mb=${runs.map(_.peak).max >> 20} " +
        f"store_mb=${storeMb()} steal_s=$stealS%.1f"
    }
    def fingerprint(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
      try {
        val p = df.queryExecution.executedPlan.toString
        val ex = "Exchange hashpartitioning".r.findAllIn(p).length
        val so = "(?m)^[^\\n]*\\bSort \\[".r.findAllIn(p).length
        plans(name) = s"exchanges=$ex sorts=$so " +
          s"smj=${p.contains("SortMergeJoin")} bhj=${p.contains("BroadcastHashJoin")}"
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] fingerprint $name failed: ${e.getMessage}")
      }
    // names whose rep-1 is the measurement of record (see `time` comment)
    val ColdNames = Set("etl_star_build", "ann_ivfpq_index_compact",
      // rep 1 performs the physical tombstone fold; later reps find a
      // clean store and no-op — the min is a floor, not a measurement
      "bm25_update_compact")
    // `n` reps of one row (`n` = 1 for the end-to-end lifecycle rows —
    // funnel, scale phase — which are not query noise floors). The first
    // rep of the ETL phase is the COLD number BASELINE.md compares against
    // (later reps are JVM/page-cache warm); for the index compaction only
    // rep 1 performs the physical fold (later reps find no affected
    // partitions — a no-op floor), so its rep-1 is the number of record.
    // Keep both visible. `_cold` keys are excluded from the headline total.
    def time(name: String, n: Int = reps)(f: => Unit): Unit = {
      val runs = (1 to n).map(_ => rep(name)(f))
      record(name, runs)
      if (ColdNames(name) && n > 1) times(name + "_cold") = runs.head.sec
    }
    // INTERLEAVED A/B reps (a, b, a, b, …) inside one phase, so slow
    // machine-load drift hits both sides alike and the recorded DIRECTION
    // is load-invariant; each side reports its min across reps, and its
    // health from its own reps only, so a row can adjudicate which side paid
    def interleaved(aName: String, bName: String)(a: => Unit)(b: => Unit): Unit = {
      val runs = (1 to reps).map(_ => (rep(aName)(a), rep(bName)(b)))
      record(aName, runs.map(_._1))
      record(bName, runs.map(_._2))
    }

    val dw = s"${Scratch.tempDir("graft_bench_dw_")}/out"
    // scratch dirs (DW sink, ANN indexes) are Scratch.tempDir dirs, gone
    // at JVM exit; each is also emptied after its phase, so the disk one
    // run holds stays one phase's worth
    import Scratch.rmTree

    // Phase 1 — ETL: build + sink the whole star (reference: 6 DAG tasks).
    // The fact is partitioned by year (derived from the smart date key) so
    // time-bounded queries prune partitions — the role the reference's
    // fact indexes played in Postgres.
    time("etl_star_build") { StarBench.starBuildTo(spark, sfDir, dw) }

    // Phase 2 — KPI suite over the materialized DW (reference: KPIs.sql).
    // (drop the ano partition column after any pruning filter — dim_tempo
    // carries its own ano and the join would be ambiguous)
    // Reads are deferred so a failed ETL phase still yields a complete
    // JSON line with the KPIs marked -1 instead of a crashed run.
    def kpiSuite(dwDir: String): Seq[(String, () => DataFrame)] =
      StarBench.kpiSuite(spark, dwDir)
    kpiSuite(dw).foreach { case (name, q) => time(name) { q().collect() } }

    // Phase 3 — extension operators, self-contained on the raw tables.
    Seq("q_agg_stats", "q_topk", "q_window_running", "q_semi_anti",
      "q_events_hourly", "q_text_quality", "q_fingerprint",
      "q_dedup_minhash_lsh", "q_dedup_jaccard", "q_dedup_simhash64",
      "q_dedup_canonical",
      "q_dedup_passage", "q_passage_clean", "q_quality_gopher", "q_semdedup",
      "q_tfidf_cosine",
      "q_range_join", "q_skew_join_salted", "q_sketch_countmin",
      "q_bloom_semijoin",
      "q_ann_brute", "q_ann_pq", "q_ann_ivfpq",
      "q_embed_neardup",
      // curation family: the corpus-wide shapes (distinct-shingle KMV,
      // shingle-hash decontamination join, full-signal curation pass)
      "q_sketch_kmv", "q_sketch_kmv_onepass", "q_decontaminate",
      "q_corpus_curate",
      // r9 additions: the sharded cumsum windows, the AQE-owned skew
      // twin, and the incremental DW lifecycle (historical overwrite +
      // increment append + read-back — a full cycle per rep)
      "q_token_budget", "q_seq_packing", "q_skew_join_aqe",
      "q_fact_incremental", "q_scd2_pit_join",
      // r10: the composed maintenance loop — SCD2 state store + PIT fact
      // increments (full lifecycle per rep: init, load 1, dim merge,
      // load 2, read-back) — plus the HLL register sketch and the
      // unigram frequency-prior score
      "q_fact_scd2_lifecycle", "q_sketch_hll",
      "q_unigram_logrank",
      // r11: the exact-re-rank refined probe (recall repair over ADC) and
      // the fluency-gated composed curation pass
      "q_ann_ivfpq_refined", "q_corpus_curate_fluent",
      // r11: Misra-Gries heavy hitters (candidates + exact verify), the
      // sketch-driven adaptive skew salting, and the boilerplate signal
      "q_heavy_hitters", "q_skew_join_salted_adaptive",
      "q_boilerplate_frac",
      // r11: the materialized KPI maintained under appends (two
      // maintenance batches + read-time rollup per rep)
      "q_kpi_incremental",
      // r12: cluster-granular deterministic train/val/test assignment
      // (LSH pairs → components → hash split, end-to-end per rep) and
      // the seeded shuffle-to-shards training layout, and α-temperature
      // language mixing (integer-exact targets, sharded rank)
      "q_split_leakage_safe", "q_shuffle_shards",
      "q_mix_temperature",
      // r12: per-cell prototype quota (diversity-balanced subsample)
      // and the short→long curriculum banding
      "q_sample_diverse", "q_curriculum_stages",
      // r12: DSIR importance scoring (hashed-unigram fixed-point ratio),
      // shingle-hash novelty vs the reference sources, Luhn-validated
      // PII scan, label-excluded hard-negative top-k, and the
      // strict-order conversion funnel
      "q_dsir_score", "q_ngram_novelty", "q_pii_luhn",
      "q_hard_negatives", "q_funnel", "q_events_sliding",
      // r12: the TPC-H-shaped composed analytics (Q3/Q5 forms)
      "q_shipping_priority", "q_regional_volume",
      // r12: full build + one-year dynamic-overwrite swap per rep
      "q_fact_backfill",
      // r12.4: lexical retrieval (tokenize + invert + serve, end-to-end),
      // transition-graph PageRank (5 barriered iterations), the per-day
      // distinct-user HLL register table, and the median/MAD robust
      // length-outlier signal
      "q_bm25_topk", "q_pagerank", "q_sketch_hll_grouped",
      "q_quality_outliers",
      // r12.5: personalized PageRank, journey mining, the engagement
      // broadcast join, the histogram sketch, and the CDC apply
      "q_pagerank_personalized", "q_path_mining", "q_engagement_prior",
      "q_sketch_histogram", "q_cdc_apply",
      // r12.6: the declarative constraint suite (one scan per rule
      // family + key anti-joins), per-user hourly forward-fill
      // densification, the degree-oriented triangle census, blocked
      // Levenshtein entity matching, and hash-priority weighted sampling
      "q_dq_checks", "q_time_gapfill", "q_triangle_count",
      "q_weighted_sample",
      // the deletion-neighborhood fuzzy form — the DEPLOYMENT algorithm
      // (entropy-independent candidate cost; beat the block-quadratic
      // q_fuzzy_match at every measured scale: 3.2 vs 7.2 s at sf0.1,
      // 8.0× vs 52.9× growth at 10×). The quadratic and Ed-Join forms
      // stay ORACLE-GATED equivalence checks but are r14-demoted out of
      // the headline bench (the char-BPE precedent): the bench prices
      // what a user should run
      "q_fuzzy_match_delnbr",
      // r12.6: snapshot diff (full-outer key join, null-safe compare),
      // rational-PMI collocation mining (array-local bigrams), and the
      // built-in session_window sessionizer beside the lag/cumsum form
      "q_table_diff", "q_phrase_pmi",
      "q_sessionize", "q_sessionize_native",
      // r14: the real-codec multimodal paths — genuine WAV/GIF encode +
      // decode per rep (the per-partition codec batch cost is the thing
      // being priced) and the audio codec→feature→ANN composition
      "q_multimodal_decode_wav", "q_multimodal_decode_gif",
      "q_multimodal_audio_ann",
      // r14: image near-dup end-to-end — real PNG encode+decode, aHash,
      // banded candidate join, Hamming verify (the multimodal dedup cost)
      "q_multimodal_phash_dedup",
      // r14: bigram stupid-backoff LM scoring — train the count tables
      // on the mod slice + score the rest via token-keyed equi-joins
      // (the perplexity-filter cost, integer-exact bits) — and the LM
      // deployed as a filter inside the composed curation pass
      "q_lm_perplexity", "q_lm_perplexity3", "q_corpus_curate_ppl",
      // r14: ordered NEAR-k proximity (banded position join); the exact
      // phrase family is priced via its index build/serve split below
      "q_phrase_near",
      // r12.6: five BPE merge rounds end-to-end (pair-count shuffle +
      // windowed greedy merge + barrier per round)
      "q_bpe_merges").foreach { name =>
      time(name) { SparkEntry.queries(name)(spark, sfDir).count() }
    }

    // IVF lifecycle, separated: the one-time train/build pass vs the
    // latency of an index-backed probe (the serving-path number — what
    // q_ann_ivf would cost if it didn't re-train per invocation). Index
    // dirs are deleted after timing.
    val ivfIdx = s"${Scratch.tempDir("graft_bench_ivf_")}/out"
    time("ann_ivf_index_build") {
      graft.sim.EmbeddingOps.buildIvfIndex(spark, sfDir, ivfIdx)
    }
    time("q_ann_ivf_indexed") {
      graft.sim.EmbeddingOps.annIvfIndexed(spark, sfDir, 1, ivfIdx).count()
    }
    rmTree(ivfIdx)
    // same split for the trained quantizer: Lloyd rounds are the build
    // cost; the serving probe only reads the persisted index
    val kmIdx = s"${Scratch.tempDir("graft_bench_ivf_km_")}/out"
    time("ann_kmeans_index_build") {
      graft.sim.EmbeddingOps.buildIvfIndexKmeans(spark, sfDir, kmIdx)
    }
    time("q_ann_ivf_kmeans_indexed") {
      graft.sim.EmbeddingOps.annIvfKmeansIndexed(spark, sfDir, kmIdx).count()
    }
    // near-dup SERVING from the same persisted index: the cell-blocked
    // self-join without the per-invocation Lloyd training that
    // q_embed_neardup (the self-contained oracle form) pays
    time("q_embed_neardup_indexed") {
      graft.sim.EmbeddingOps.embedNearDupIndexed(spark, sfDir, kmIdx).count()
    }
    // diversity-quota SERVING off the same index: stored assignment +
    // one broadcast distance join + the bounded aggregator — vs the
    // self-contained q_sample_diverse that re-trains per invocation
    time("q_sample_diverse_indexed") {
      graft.sim.EmbeddingOps.sampleDiverseIndexed(spark, sfDir, kmIdx).count()
    }
    // BM25 lifecycle split, same pattern: tokenize + invert + persist is
    // the build; the served probe reads only the query terms' postings
    // buckets off the partitioned index
    val bmIdx = s"${Scratch.tempDir("graft_bench_bm25_")}/out"
    time("bm25_index_build") {
      graft.text.RetrievalOps.buildBm25Index(spark, sfDir, bmIdx)
    }
    time("q_bm25_served") {
      graft.text.RetrievalOps.bm25Served(spark, bmIdx).count()
    }
    // the WAND/MaxScore-pruned serve beside the exhaustive one — same
    // answer, fewer postings scored; runs BEFORE the update mutations
    // below (the stored term upper bounds are build-time metadata)
    time("q_bm25_wand_served") {
      graft.text.RetrievalOps.bm25WandServed(spark, bmIdx).count()
    }
    // the UPDATE lifecycle's own shapes (r16: the r15 gate-only family
    // priced): tombstone-fold compaction — rewrites ONLY the (tb, batch)
    // partitions holding a victim's rows — and the batch-keyed postings
    // append with its doclens/stats rewrite
    locally {
      import org.apache.spark.sql.functions.col
      val victims = Tables.documents(spark, sfDir)
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text")
        .filter(col("doc_id") % 7 === 3)
      graft.text.RetrievalOps.deleteBm25Docs(spark,
        victims.select("doc_id"), bmIdx, batchId = 0L)
      time("bm25_update_compact") {
        graft.text.RetrievalOps.compactBm25Index(spark, bmIdx)
      }
      time("bm25_update_append") {
        graft.text.RetrievalOps.appendBm25Docs(spark,
          victims.selectExpr("doc_id",
            "concat(text, ' vector scan') AS text"), bmIdx, batchId = 1L)
      }
    }
    rmTree(bmIdx)
    // Zipfian WAND crossover (r17): the sf corpora are frequency-flat
    // (~3% prunable postings — WAND loses on bookkeeping there, priced
    // above); this staging generates the regime retrieval pruning
    // exists for — power-law vocabulary, queries pairing a
    // near-stopword with a rare term. Staged per run (~26M tokens),
    // then exhaustive vs pruned serve INTERLEAVED off the same
    // persisted index; the evaluation counts land in stderr beside the
    // wall-clock rows.
    locally {
      val zdir = s"${Scratch.tempDir("graft_bench_zipf_")}/out"
      time("bm25_zipf_stage", 1) {
        // SPARK_GRAFT_ZIPF_DOCS scales the staging for one-off
        // crossover measurement (the per-round default keeps the row
        // inside the bench budget; see BENCH.md §WAND crossover)
        val (n0, l, v) = graft.text.RetrievalOps.ZipfBench
        val n = sys.env.getOrElse("SPARK_GRAFT_ZIPF_DOCS", n0.toString).toInt
        // r21: token-form staging (identical index bytes, no
        // string-build + regex-split round trip) and the query set
        // derived from the just-written termmeta (term, df) sidecar
        // instead of a third full-postings aggregation
        graft.text.RetrievalOps.buildBm25ZipfIndex(spark, n, l, v, zdir)
        graft.text.RetrievalOps.zipfQueriesOfDf(
          spark.read.parquet(s"$zdir/termmeta").select("term", "df"))
          .coalesce(1).write.mode("overwrite").parquet(s"$zdir/queries")
      }
      interleaved("q_bm25_zipf_served", "q_bm25_zipf_wand_served") {
        graft.text.RetrievalOps.bm25ZipfServed(spark, zdir).count(): Unit
      } {
        graft.text.RetrievalOps.bm25ZipfWandServed(spark, zdir).count(): Unit
      }
      // the EXPENSIVE-scorer pair (r18): same staged index, every
      // posting re-scored through a depth-ExpensiveDepth md5 chain (a learned
      // re-ranker's cost profile). Plain BM25 measured to an honest
      // negative in r17 — scoring is ~free, so pruning loses to the
      // codegen scan; THIS is the regime where the postings saving is
      // the wall-clock saving, and the row pair prices it.
      // heavy-form policy (r18 verdict #6): the EXHAUSTIVE side of the
      // expensive-scorer pair is gate-only — it exists purely as the
      // pruning crossover's baseline (~36 s/rep), and that crossover is
      // on record in BENCH.md's expensive-scorer crossover table; the
      // correctness gate (q_bm25_zipf_expensive) still runs
      // it per round. Only the shipped WAND form stays benched.
      time("q_bm25_zipf_expensive_wand_served") {
        graft.text.RetrievalOps.bm25ZipfExpensiveWandServed(spark, zdir)
          .count(): Unit
      }
      try {
        val (ex, pr) = graft.text.RetrievalOps.bm25ZipfCounts(spark, zdir)
        System.err.println(s"[bench] zipf crossover: exhaustive scored $ex " +
          s"postings, wand scored $pr (${"%.2f".format(100.0 * pr / ex)}%)")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] zipf counts failed: ${e.getMessage}")
      }
      rmTree(zdir)
    }
    // substring-dedup skew probe (r17): one 32-token boilerplate phrase
    // injected into 10³ docs — 25 window hashes each carrying 10³ rows.
    // The capped row prices the shipped default (the hot anchors drop in
    // the map-combined pre-pass; the join sees only natural-frequency
    // hashes); the uncapped row prices what the cap prevents (~1.25×10⁷
    // anchor pairs fanned out of 25 shuffle keys). The RATIO is the
    // artifact: bounded capped time beside the quadratic detonation.
    locally {
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val skewDir = s"${Scratch.tempDir("graft_bench_substrskew_")}/out"
      val boiler = (1 to 32).map(i => s"skewtok$i").mkString(" ")
      Tables.documents(spark, sfDir)
        .withColumn("text", when(col("doc_id") <= 1000,
          concat(lit(boiler + " "), col("text"))).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
      time("dedup_substring_skew_capped", 1) {
        graft.text.TextOps.substringDedup(spark, skewDir).count(): Unit
      }
      time("dedup_substring_skew_uncapped", 1) {
        graft.text.TextOps.substringDedup(spark, skewDir,
          maxAnchorFreq = Int.MaxValue).count(): Unit
      }
      rmTree(skewDir)
    }
    // hot-removal probe (r18): a 32-token phrase duplicated 10⁴ times
    // (twice in every sf0.1 doc) — far over the anchor cap, so the
    // exact pair path drops it by design; the composed operator must
    // still CUT it (passage-ownership path, linear in duplicated
    // volume) within a bounded runtime. The keeper check beside the
    // timing is the "actually removed" evidence: exactly one copy of
    // the phrase survives the whole corpus.
    locally {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val hotDir = s"${Scratch.tempDir("graft_bench_substrhot_")}/out"
      val boiler = (1 to 32).map(i => s"hotskew$i").mkString(" ")
      Tables.documents(spark, sfDir)
        .withColumn("text",
          concat(lit(boiler + " " + boiler + " "), col("text")))
        .write.mode("overwrite").parquet(s"$hotDir/documents.parquet")
      time("dedup_substring_hot_removed", 1) {
        graft.text.TextOps.substringRemovedHot(spark, hotDir)
          .write.mode("overwrite").parquet(s"$hotDir/out")
      }
      try {
        val resid = spark.read.parquet(s"$hotDir/out")
          .filter(col("texto_limpo").contains("hotskew1 hotskew2")).count()
        System.err.println(
          s"[bench] dedup_substring_hot_removed: $resid doc(s) still carry " +
            "the 10^4-duplicated phrase (expect 1 keeper)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] hot residual check failed: ${e.getMessage}")
      }
      rmTree(hotDir)
    }
    // positional-index lifecycle: posexplode + term-bucketed persist is
    // the build; the phrase probe reads only its terms' buckets
    val phIdx = s"${Scratch.tempDir("graft_bench_phrase_")}/out"
    time("phrase_index_build") {
      graft.text.RetrievalOps.buildPhraseIndex(spark, sfDir, phIdx)
    }
    time("q_phrase_served") {
      graft.text.RetrievalOps.phraseServed(spark, phIdx).count()
    }
    rmTree(phIdx)
    // PQ lifecycle split: codebook training + corpus encoding are the
    // build; the served ADC probe reads the compressed index only
    val pqIdx = s"${Scratch.tempDir("graft_bench_pq_")}/out"
    time("ann_pq_index_build") {
      graft.sim.EmbeddingOps.buildPqIndex(spark, sfDir, pqIdx)
    }
    time("q_ann_pq_indexed") {
      graft.sim.EmbeddingOps.annPqIndexed(spark, sfDir, pqIdx).count()
    }
    // the composed IVF-PQ lifecycle: BOTH trainings are reused from the
    // sibling indexes above (fingerprint-checked) — the coarse quantizer
    // from the k-means index, the PQ codebooks from the flat PQ index —
    // so the composed build is corpus encoding + cell assignment only;
    // one training per corpus feeds every derived artifact, and the
    // served probe routes + ADC-ranks off parquet only
    val ivfpqIdx = s"${Scratch.tempDir("graft_bench_ivfpq_")}/out"
    time("ann_ivfpq_index_build") {
      graft.sim.EmbeddingOps.buildIvfPqIndex(spark, sfDir, ivfpqIdx,
        Some(kmIdx), Some(pqIdx))
    }
    time("q_ann_ivfpq_indexed") {
      graft.sim.EmbeddingOps.annIvfPqIndexed(spark, sfDir, ivfpqIdx).count()
    }
    // the serving refine: same stored index, exact re-rank of the ADC
    // shortlist as point lookups — the recall repair at serving cost
    time("q_ann_ivfpq_refined_indexed") {
      graft.sim.EmbeddingOps.annIvfPqRefinedIndexed(spark, sfDir, ivfpqIdx)
        .count()
    }
    // SQ8 lifecycle split (r15): training is ONE min/max aggregation, so
    // the build should be dominated by the encode pass — and the served
    // probe prices the family's pitch: near-exact ranking straight off
    // the 4× codes, no refine stage
    val sq8Idx = s"${Scratch.tempDir("graft_bench_sq8_")}/out"
    time("ann_sq8_index_build") {
      graft.sim.EmbeddingOps.buildSq8Index(spark, sfDir, sq8Idx)
    }
    time("q_ann_sq8_indexed") {
      graft.sim.EmbeddingOps.annSq8Indexed(spark, sfDir, sq8Idx).count()
    }
    // the COMPOSED route+SQ8 store (r16: the r15 gate-only family priced):
    // coarse cells partition the code store, the served probe prunes to
    // the routed cells and ranks through the fused sq8_adist kernel
    val ivfSq8Idx = s"${Scratch.tempDir("graft_bench_ivfsq8_")}/out"
    time("ann_ivfsq8_index_build") {
      graft.sim.EmbeddingOps.buildSq8Index(spark, sfDir, ivfSq8Idx,
        graft.sim.EmbeddingOps.Sq8Layout.Ivf)
    }
    time("q_ann_ivfsq8_indexed") {
      graft.sim.EmbeddingOps.annSq8Indexed(spark, sfDir, ivfSq8Idx,
        graft.sim.EmbeddingOps.Sq8Layout.Ivf).count()
    }
    rmTree(ivfSq8Idx)
    // graph ANN (r16): per-cell kNN adjacency build (the quadratic-in-cell
    // construction pass) vs the H-hop beam serve — the read-bounded
    // alternative to the refine family's fixed c-deep shortlist
    val graphIdx = s"${Scratch.tempDir("graft_bench_graph_")}/out"
    time("ann_graph_index_build") {
      graft.sim.EmbeddingOps.buildGraphIndex(spark, sfDir, graphIdx)
    }
    time("q_ann_graph_indexed") {
      graft.sim.EmbeddingOps.annGraphIndexed(spark, sfDir, graphIdx).count()
    }
    // centroid-layer routing (r17): greedy descent over the symmetrized
    // centroid kNN graph picks the PC probed cells (O(deg·BC·HC)
    // centroid evals, not O(cells)) — self-contained form, priced
    // beside the own-cell serve above
    time("q_ann_graph_routed") {
      graft.sim.EmbeddingOps.annGraphRouted(spark, sfDir).count()
    }
    // cross-cell boundary edges: seam-crossing symmetrized adjacency
    time("q_ann_graph_xcell") {
      graft.sim.EmbeddingOps.annGraphXcell(spark, sfDir).count()
    }
    // persisted navigable-layer serves: routed reads only the probed
    // cells' partitions, xcell the probed cells' H-hop closure
    locally {
      val rIdx = s"${Scratch.tempDir("graft_bench_graph_routed_")}/out"
      time("ann_graph_routed_index_build") {
        graft.sim.EmbeddingOps.buildGraphRoutedIndex(spark, sfDir, rIdx)
      }
      time("q_ann_graph_routed_indexed") {
        graft.sim.EmbeddingOps.annGraphRoutedIndexed(spark, sfDir, rIdx).count()
      }
      rmTree(rIdx)
      val xIdx = s"${Scratch.tempDir("graft_bench_graph_xcell_")}/out"
      time("ann_graph_xcell_index_build") {
        graft.sim.EmbeddingOps.buildGraphXcellIndex(spark, sfDir, xIdx)
      }
      time("q_ann_graph_xcell_indexed") {
        graft.sim.EmbeddingOps.annGraphXcellIndexed(spark, sfDir, xIdx).count()
      }
      rmTree(xIdx)
    }
    // partition-scoped maintenance: append a 10% arrival batch — the
    // touched cells' subgraphs rebuild, everything else untouched
    locally {
      import org.apache.spark.sql.functions.col
      val arrivals = Tables.embeddings(spark, sfDir)
        .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
        .filter(col("vec_id") % 10 === 9)
      time("ann_graph_index_append") {
        graft.sim.EmbeddingOps.appendGraphIndex(spark, arrivals, graphIdx, 0L)
      }
    }
    rmTree(graphIdx)
    rmTree(sq8Idx)
    rmTree(ivfpqIdx)
    rmTree(pqIdx)
    rmTree(kmIdx)
    // incremental index maintenance: cell-append a 10% arrival batch onto
    // an index built on the other 90% — the O(batch) alternative to the
    // O(corpus × rounds) rebuild measured by ann_kmeans_index_build
    val incrIdx = s"${Scratch.tempDir("graft_bench_ivf_incr_")}/out"
    val incrPqIdx = s"${Scratch.tempDir("graft_bench_ivfpq_incr_")}/out"
    locally {
      import org.apache.spark.sql.functions.col
      val base = Tables.embeddings(spark, sfDir)
        .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
      val arrival = col("vec_id") % 10 === 9
      graft.sim.EmbeddingOps.buildIvfIndexKmeansOn(spark,
        base.filter(!arrival), base.filter(!arrival), incrIdx, "bench")
      time("ann_kmeans_index_append") {
        graft.sim.EmbeddingOps.appendIvfIndexKmeans(
          spark, base.filter(arrival), incrIdx, batchId = 0L): Unit
      }
      // same lifecycle for the COMPOSED compressed index: arrivals are
      // encoded with the stored codebooks + coarse-assigned, appended
      // into the routed cell partitions — compare ann_ivfpq_index_build
      graft.sim.EmbeddingOps.buildIvfPqIndexOn(spark,
        base.filter(!arrival), base.filter(!arrival), incrPqIdx)
      time("ann_ivfpq_index_append") {
        graft.sim.EmbeddingOps.appendIvfPqIndex(
          spark, base.filter(arrival), incrPqIdx, batchId = 0L)
      }
      // r13: the delete third of the lifecycle on the SAME appended
      // index — the O(|batch|) tombstone write, the masked serve (the
      // steady-state read price of logical deletion), and the one-time
      // physical fold
      // the SAME victim predicate the gates/oracle use — never re-derive
      // it here or the benched delete silently diverges from the gated one
      val victims = base
        .filter(graft.sim.EmbeddingOps.DeleteVictims)
        .select("vec_id")
      time("ann_ivfpq_delete_apply") {
        graft.sim.EmbeddingOps.deleteIvfPq(spark, victims, incrPqIdx, 1L)
      }
      time("q_ann_ivfpq_delete_served") {
        graft.sim.EmbeddingOps.annIvfPqIndexed(spark, sfDir, incrPqIdx).count()
      }
      time("ann_ivfpq_index_compact") {
        // first rep folds; later reps see no tombstones (no-op floor) —
        // rep-1 is the number of record, emitted as _compact_cold via
        // ColdNames; the min stays as the no-op detection floor
        graft.sim.EmbeddingOps.deleteIvfPq(spark, victims, incrPqIdx, 1L)
        graft.sim.EmbeddingOps.compactIvfPqIndex(spark, incrPqIdx)
      }
    }
    rmTree(incrIdx)
    rmTree(incrPqIdx)

    // Phase 4 — bucketed storage as the measured fact-build default (the
    // 100 TB posture, measured rather than demonstrated): header and detail are
    // bucketed+sorted by the order key ONCE (the amortized write), after
    // which every fact build's header⨝detail join plans with ZERO
    // Exchanges — a bucket-co-located sort-merge join instead of shuffling
    // the two largest tables. Broadcast is disabled for both timed builds
    // so the measured delta is exactly the removed shuffle (at 100 TB
    // neither side of header⨝detail fits a broadcast anyway; the bounded
    // dim lookups keep their explicit broadcast() hints, which override
    // the threshold).
    val abtSaved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // since 3.0 Spark IGNORES bucketed sortBy metadata at read (the scan
    // reports no output ordering) unless this conf re-enables it; with
    // the one-file-per-bucket write above the ordering is genuine, and
    // enabling it is what lets the header⨝detail sort-merge join skip
    // BOTH its Sort nodes, not just the Exchange. Cost: planning lists
    // files per bucket — the right trade for a persistent warehouse
    // table read many times.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    time("etl_bucket_tables_build") {
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
      // repartition ON THE BUCKET KEY into exactly numBuckets partitions
      // first: repartition's HashPartitioning is the same murmur3 pmod
      // Spark's bucket-id assignment uses, so each write task holds
      // exactly one bucket's rows and each bucket lands in ONE file.
      // Without this (the r7 shape) every task writes a file per bucket
      // it touches, and Spark DISTRUSTS the per-file sortBy metadata at
      // read time (multiple sorted files per bucket aren't globally
      // sorted), silently re-sorting both sides of the join it was
      // supposed to pre-sort — the r7 bucketed-slower-than-shuffled
      // inversion.
      import org.apache.spark.sql.functions.col
      Tables.orders(spark, sfDir)
        .repartition(cpus, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(cpus, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bkt")
      Tables.lineitem(spark, sfDir)
        .repartition(cpus, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(cpus, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt")
    }
    // timings must exist in the JSON even if the bucketed write failed —
    // guard the probe and the dependent timing the same way time() guards
    if (spark.catalog.tableExists("orders_bkt") &&
        spark.catalog.tableExists("lineitem_bkt")) {
      val factB = () => Star.fatoVendasFrom(spark, sfDir,
        spark.table("orders_bkt"), spark.table("lineitem_bkt"))
      def nodeCounts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
        val p = df.queryExecution.executedPlan.toString
        ("Exchange hashpartitioning".r.findAllIn(p).length,
          "(?m)^[^\\n]*\\bSort \\[".r.findAllIn(p).length)
      }
      val (bx, bs) = nodeCounts(factB())
      val (sx, ss) = nodeCounts(Star.fatoVendas(spark, sfDir))
      fingerprint("etl_star_build_bucketed", factB())
      fingerprint("etl_star_build_shuffled", Star.fatoVendas(spark, sfDir))
      System.err.println(s"[bench] fact plan: bucketed Exchanges=$bx Sorts=$bs, " +
        s"shuffled Exchanges=$sx Sorts=$ss (bucketing must remove the " +
        "header⨝detail Exchange AND its two Sorts; remaining nodes belong " +
        "to the unbounded dim joins)")
      // interleaved reps: the r9/r10 closing artifacts proved a 600k-row
      // delta is min-of-reps jitter territory — the direction DECISION
      // lives in the 10× phase below, where the removed shuffle is
      // material; this row records the sf0.1 point for continuity
      interleaved("etl_star_build_bucketed", "etl_star_build_shuffled") {
        graft.sink.Sink.parquet(factB(), s"$dw/fato_vendas_bkt")
      } {
        graft.sink.Sink.parquet(Star.fatoVendas(spark, sfDir),
          s"$dw/fato_vendas_shf")
      }
    } else {
      times("etl_star_build_bucketed") = -1.0
      time("etl_star_build_shuffled") {
        graft.sink.Sink.parquet(Star.fatoVendas(spark, sfDir),
          s"$dw/fato_vendas_shf")
      }
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abtSaved)
    spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")

    // Phase 5 — the composed one-pass curation funnel (CurateRun): the
    // largest previously-unbenched surface (~9 gated operators composed:
    // signal gates, survivor dedup, decontamination, passage cleaning,
    // partitioned corpus write). ONE rep — it is an end-to-end pipeline
    // run, not a query; recording it makes funnel regressions visible to
    // the driver instead of living only in commit-message narrative.
    locally {
      val curOut = s"${Scratch.tempDir("graft_bench_curate_")}/out"
      time("curate_run_funnel", 1) { CurateRun.run(spark, sfDir, curOut): Unit }
      rmTree(curOut)
    }

    // Phase 6 — the 10× scale point RECORDED AS AN ARTIFACT (sf0.1 fact
    // replicated 10× with offset order keys ≈ sf1, dims unchanged, by
    // StarBench.stage10x, so the sub-linear scaling story is a per-round
    // number, not a probe narrative), and
    // the bucketed-vs-shuffled direction decided at a fact size where the
    // removed header⨝detail shuffle is material (6M lines, not 600k).
    locally {
      import org.apache.spark.sql.functions.col
      val sf1Dir = s"${Scratch.tempDir("graft_bench_sf1_")}/out"
      val dw1 = s"${Scratch.tempDir("graft_bench_dw1_")}/out"
      try {
        StarBench.stage10x(spark, sfDir, sf1Dir)
        // one rep each: these are scale-ratio measurements against the
        // sf0.1 rows above (star ~2.3×-per-10×-data is the story)
        time("etl_star_build_sf1", 1) { StarBench.starBuildTo(spark, sf1Dir, dw1) }
        time("kpi_suite_sf1", 1) {
          // the 13 KPI queries are independent reads over the same DW —
          // submit them from a small pool so each query's straggler tail
          // back-fills with the next query's tasks (the suite is the
          // measured unit here, unlike the per-query sf0.1 rows above;
          // each query still computes its full result)
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          // each future swallows its own failure so Future.sequence is
          // NOT fail-fast: Await returns only after every query finished
          // (a fail-fast Await left in-flight queries bleeding executor
          // work into the next timed phase); failures rethrow after all
          // complete so the row still records -1
          try {
            val done = Await.result(Future.sequence(
              kpiSuite(dw1).map { case (n, q) =>
                Future(q().collect(): Unit)
                  .map(_ => None: Option[String])
                  .recover { case e => Some(s"$n: ${e.getMessage}") }
              }), Duration.Inf)
            done.flatten.headOption.foreach(m => sys.error(s"kpi pool: $m"))
          } finally {
            pool.shutdown()
            pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS): Unit
          }
        }
        // bucketed vs shuffled at 10×, same discipline as phase 4:
        // broadcast off for the timed builds, one file per bucket,
        // trusted sort metadata, INTERLEAVED reps
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        time("etl_bucket_tables_build_10x", 1) {
          StarBench.bucket10x(spark, sf1Dir, cpus)
        }
        if (spark.catalog.tableExists("orders_bkt10") &&
            spark.catalog.tableExists("lineitem_bkt10")) {
          fingerprint("etl_star_build_bucketed_10x",
            Star.fatoVendasFrom(spark, sf1Dir,
              spark.table("orders_bkt10"), spark.table("lineitem_bkt10")))
          fingerprint("etl_star_build_shuffled_10x",
            Star.fatoVendas(spark, sf1Dir))
          interleaved("etl_star_build_bucketed_10x", "etl_star_build_shuffled_10x") {
            graft.sink.Sink.parquet(
              Star.fatoVendasFrom(spark, sf1Dir,
                spark.table("orders_bkt10"), spark.table("lineitem_bkt10")),
              s"$dw1/fato_vendas_bkt")
          } {
            graft.sink.Sink.parquet(Star.fatoVendas(spark, sf1Dir),
              s"$dw1/fato_vendas_shf")
          }
        } else {
          times("etl_star_build_bucketed_10x") = -1.0
          times("etl_star_build_shuffled_10x") = -1.0
        }
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abtSaved)
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS orders_bkt10")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt10")
      } finally {
        rmTree(sf1Dir)
        rmTree(dw1)
      }
    }

    // a failed query is recorded as JSON null (never a plausible number or
    // a -1 that a consumer might sum) AND listed in an explicit `errors`
    // field; the internal -1.0 sentinel exists only between time() and here
    val qs = times.map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "null" else v.toString)
    }.mkString("{", ",", "}")
    val errs = times.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val pl = plans.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val jh = jvmHealth.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // failures must not shrink the headline total; _cold duplicates would
    // double-count the ETL phase, and the 10×-data scale rows (_sf1/_10x)
    // measure a DIFFERENT corpus — summing two data scales into one
    // headline would make the total incomparable across rounds
    val total = times.collect {
      case (k, v) if v >= 0 && !k.endsWith("_cold") &&
        !k.endsWith("_sf1") && !k.endsWith("_10x") => v
    }.sum
    // band annotation (r19 verdict #4): rows in this repo flap 2–4× under
    // in-bench context with no code change (r3 kpi, r15 phash, r18 PQ,
    // r19 xcell/agg_stats — every one adjudicated context by idle
    // re-measure). BENCH_BANDS.json carries the adjudicated [lo, hi]
    // steady-state band per row; any measured value >1.5× off its band
    // lands in `band_flags` WITH the band, so a committed close can never
    // silently contradict the adjudication history — the artifact reads
    // standalone. Bands are sf0.1 numbers; other scales skip annotation.
    val bandFlags: Map[String, (Double, Double, Double)] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_BANDS",
        new java.io.File(sys.props.getOrElse("user.dir", "."),
          "BENCH_BANDS.json").getPath)
      val f = new java.io.File(path)
      if (!f.isFile || !sfDir.endsWith("sf0.1")) Map.empty
      else try {
        // the band file is flat {"row": [lo, hi], ...}: a 30-line regex
        // pull keeps the bench dependency-free
        val txt = java.nio.file.Files.readString(f.toPath)
        val entry = """"([^"]+)"\s*:\s*\[\s*([-0-9.eE]+)\s*,\s*([-0-9.eE]+)\s*\]""".r
        val bands = entry.findAllMatchIn(txt)
          .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
          .toMap
        times.toMap.collect {
          case (k, v) if v >= 0 && bands.contains(k) &&
              (v > bands(k)._2 * 1.5 || v * 1.5 < bands(k)._1) =>
            k -> (v, bands(k)._1, bands(k)._2)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] band file unreadable: ${e.getMessage}")
        Map.empty[String, (Double, Double, Double)]
      }
    }
    val bf = bandFlags.map { case (k, (v, lo, hi)) =>
      "\"" + k + "\":{\"sec\":" + v + ",\"band\":[" + lo + "," + hi + "]}"
    }.mkString("{", ",", "}")
    def line(jvmField: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"plans":$pl,"jvm":$jvmField,"band_flags":$bf,"reps":$reps,"sf":"$sfDir"}"""
    // driver-parse contract (r21 verdict #8): the ONE stdout line must
    // stay inside the driver's tail-capture budget — r18–r20 lost their
    // round-over-round comparison to unparsed bench output. If the line
    // outgrows the budget, the per-row jvm telemetry (the biggest block)
    // moves to the BENCH_OUT sidecar and the line says where it went;
    // queries/errors/band_flags always stay in-line.
    val lineBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE_BUDGET",
      "49152").toInt
    val full = line(jh)
    val json =
      if (full.length <= lineBudget) full
      else line("\"in sidecar (line budget)\"")
    println(json)
    // ALSO write the line to a file: two rounds of BENCH data were lost to
    // stdout-scrape failures (BENCH_r01/r02 parsed:null). The driver can
    // point SPARK_GRAFT_BENCH_OUT anywhere; the default lands in-repo so a
    // parseable artifact always exists.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(sys.props.getOrElse("user.dir", "."), "BENCH_OUT.json").getPath)
    // the sidecar always carries the FULL line (jvm telemetry included)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    rmTree(dw)
    rmTree(wh)
    spark.stop()
  }
}
