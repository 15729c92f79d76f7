package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up probe: replicates the sf0.1 sales tables Nx (order keys
  * offset per replica, dimensions unchanged) to ~sf1 size, then times the
  * full star build + KPI suite at both scales. The point is the RATIO: a
  * plan that is linear in the fact and constant in the dims should scale
  * ~Nx on the fact-bound stage and ~1x on dim-bound stages — evidence the
  * partitioning/broadcast choices survive a scale-up.
  *
  * Usage: runMain graft.ScaleProbe [replicas] [workDir]
  *        runMain graft.ScaleProbe --dedup [replicas] [workDir]
  *
  * `--dedup` probes the dedup/ANN family instead: documents and
  * embeddings are replicated Nx and the banded candidate-generation paths
  * (MinHash-LSH, prefix-filtered Jaccard, SimHash64 bands, IVF probe) are
  * timed at 1x and Nx with their result counts. Documents are replicated
  * with a per-replica token PREFIX, which maps each replica's shingle set
  * bijectively (within-replica similarity structure preserved exactly)
  * while making replicas mutually dissimilar — so Nx data is N
  * independent corpora of equal near-dup density, and a linear-in-corpus
  * path must show ~Nx pairs / ≲Nx time while an all-pairs path would show
  * ~N²x. This is the empirical quadratic detector behind the scale
  * claims.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    if (args.contains("--dedup")) {
      dedupProbe(args.filterNot(_ == "--dedup")); return
    }
    if (args.contains("--events")) {
      eventsProbe(args.filterNot(_ == "--events")); return
    }
    if (args.contains("--fuzzy")) {
      fuzzyProbe(args.filterNot(_ == "--fuzzy")); return
    }
    if (args.contains("--stage-sf1")) {
      stageSf1(args.filterNot(_ == "--stage-sf1")); return
    }
    if (args.contains("--stage-sf10")) {
      stageSf10(args.filterNot(_ == "--stage-sf10")); return
    }
    if (args.contains("--stage-nx")) {
      stageNx(args.filterNot(_ == "--stage-nx")); return
    }
    if (args.contains("--sf10")) {
      sf10Bench(args.filterNot(_ == "--sf10")); return
    }
    val n = if (args.length > 0) args(0).toInt else 10
    val work = if (args.length > 1) args(1) else "/tmp/graft_scaleprobe"
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.open(src)

    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val reps = spark.range(n).select(col("id").as("rep"))
      df.crossJoin(reps).select(
        df.columns.toIndexedSeq.map { c =>
          if (keyCols.contains(c))
            (col(c) + col("rep") * 1000000000L).as(c)
          else col(c)
        }: _*)
    }

    // fact tables replicated with offset order keys; dims copied as-is
    replicate(Tables.orders(spark, src), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$work/orders.parquet")
    replicate(Tables.lineitem(spark, src), Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$work/lineitem.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      Tables.table(spark, src, t).write.mode("overwrite")
        .parquet(s"$work/$t.parquet")
    }

    def run(dir: String): (Double, Double, Long) = {
      val t0 = System.nanoTime()
      val fato = etl.Star.fatoVendas(spark, dir)
      graft.sink.Sink.parquet(fato, s"$work/dw_${dir.hashCode}/fato")
      val tEtl = (System.nanoTime() - t0) / 1e9
      val rows = spark.read.parquet(s"$work/dw_${dir.hashCode}/fato").count()
      val mat = spark.read.parquet(s"$work/dw_${dir.hashCode}/fato")
      val dimP = etl.Star.dimProduto(spark, dir)
      val t1 = System.nanoTime()
      kpi.Kpis.kpi5TopProdutos(mat, dimP).collect()
      kpi.Kpis.kpi2FaturamentoLiquido(mat).collect()
      val tKpi = (System.nanoTime() - t1) / 1e9
      (tEtl, tKpi, rows)
    }

    val (e1, k1, r1) = run(src)
    val (e2, k2, r2) = run(work)
    println(f"sf0.1 : fact=$r1%,d rows  etl=$e1%.1f s  kpi=$k1%.1f s")
    println(f"x$n%d   : fact=$r2%,d rows  etl=$e2%.1f s  kpi=$k2%.1f s")
    println(f"scale ratio: data=${r2.toDouble / r1}%.1fx  etl=${e2 / e1}%.2fx  kpi=${k2 / k1}%.2fx")

    // r10: the composed SCD2+PIT maintenance loop under fact growth —
    // orders scale Nx while the customer dimension stays fixed, so the
    // whole lifecycle (state-store init, two PIT loads, dim merge) must
    // scale ~Nx on the fact side and ~1x on the dimension side. The
    // replicated orders keep the real o_custkey domain, so every fact
    // row still PIT-resolves against genuine versions.
    def lifecycle(dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = etl.Scd.factScd2Lifecycle(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val (l1, lr1) = lifecycle(src)
    val (l2, lr2) = lifecycle(work)
    println(f"scd2 lifecycle: 1x $lr1%,d rows $l1%.1f s   x$n%d ${lr2}%,d rows $l2%.1f s   " +
      f"rows=${lr2.toDouble / lr1}%.1fx time=${l2 / l1}%.2fx")

    // r11: the maintained KPI under fact growth — both maintenance
    // batches are fact-bound (Nx orders) while the state merge and the
    // read-time rollup are O(|products|) (fixed), so the whole two-batch
    // lifecycle must scale ~Nx; output rows are category-bound (fixed).
    def kpiMaint(dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = etl.Incremental.kpiIncremental(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val (m1, mr1) = kpiMaint(src)
    val (m2, mr2) = kpiMaint(work)
    println(f"kpi maintained: 1x $mr1%,d rows $m1%.1f s   x$n%d ${mr2}%,d rows $m2%.1f s   " +
      f"time=${m2 / m1}%.2fx")
    spark.stop()
  }

  /** The EVENTS-family growth probe: events replicated Nx with offset
    * user/event ids AND a per-replica TIME SHIFT (366 days per replica),
    * so replicas are disjoint in every dimension the operators key on —
    * users never share sessions or funnels across replicas, time windows
    * and promo intervals never overlap across replicas. Under that
    * perturbation every event operator's output must scale exactly Nx
    * and its time ~Nx; a time-colocated replication would instead grow
    * the range join's TRUE output density quadratically (windows × points
    * both Nx in the same bins), which is a data property, not a cost
    * property — the shift isolates the algorithmic axis the probe is
    * after.
    */
  private def eventsProbe(rest: Array[String]): Unit = {
    val n = if (rest.length > 0) rest(0).toInt else 10
    val work = if (rest.length > 1) rest(1) else "/tmp/graft_scaleprobe_events"
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.open(src)

    val reps = spark.range(n).select(col("id").as("rep"))
    Tables.events(spark, src).crossJoin(reps).selectExpr(
        "event_id + rep * 1000000000 AS event_id",
        "timestampadd(DAY, CAST(rep * 366 AS INT), ts) AS ts",
        "user_id + rep * 1000000000 AS user_id",
        "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$work/events.parquet")

    val probeOps: Seq[(String, String => Long)] = Seq(
      ("funnel", d => graft.ops.RelationalOps.funnelSteps(spark, d).count()),
      ("sessionize", d => graft.ops.RelationalOps.sessionizeBatch(spark, d).count()),
      ("events_sliding", d => graft.ops.RelationalOps.eventsSliding(spark, d).count()),
      ("events_hourly", d => graft.ops.RelationalOps.eventsHourly(spark, d).count()),
      ("range_join", d => graft.ops.RelationalOps.rangeJoinBinned(spark, d).count()),
      ("asof_join", d => graft.ops.RelationalOps.asofAttribution(spark, d).count()),
      // r12.4: PageRank's node set is the fixed page domain (rows 1x at
      // any event volume) — the linear cost is the per-user lead window
      // + the per-iteration edge joins, whose edge list is capped at
      // |pages|²; time must track ~Nx from the window alone. The grouped
      // HLL emits ≤ 256 rows per day — replicas shift days, so rows ~Nx
      // with per-day work constant.
      ("pagerank", d => graft.ops.GraphOps.pagerank(spark, d).count()),
      ("hll_grouped", d => graft.ops.GraphOps.hllGroupedDaily(spark, d).count()),
      // r12.6: gap-fill emits one row per (user, span hour) — replicas
      // add users, so rows ~Nx and the grid explode + fill window are
      // per-user local. The triangle census' page domain is FIXED
      // (replicas reuse pages 0..99): the edge universe saturates at
      // |pages|² and output stays one row — time tracks the per-user
      // lead window ~Nx, wedge work is corpus-independent. The native
      // sessionizer mirrors sessionize (~Nx session rows). dq_events
      // always emits 3 rule rows; its one-scan aggregate must track ~Nx.
      ("time_gapfill", d => graft.ops.QualityOps.timeGapfill(spark, d).count()),
      ("triangle_count", d => graft.ops.QualityOps.triangleCount(spark, d).count()),
      ("sessionize_native", d => graft.ops.RelationalOps.sessionizeNative(spark, d).count()),
      ("dq_events", d => graft.ops.QualityOps.dqEvents(spark, d).count()))
    println(f"${"op"}%-16s ${"1x_rows"}%9s ${"1x_sec"}%8s ${s"${n}x_rows"}%10s ${s"${n}x_sec"}%8s ${"rows_x"}%8s ${"time_x"}%8s  verdict")
    var fails = 0
    probeOps.foreach { case (name, f) =>
      val t0 = System.nanoTime(); val c1 = f(src)
      val s1 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime(); val c2 = f(work)
      val s2 = (System.nanoTime() - t1) / 1e9
      val rowsX = c2.toDouble / math.max(c1, 1L)
      val timeX = s2 / s1
      val quad = timeX > 3.0 * n || rowsX > 3.0 * n
      if (quad) fails += 1
      println(f"$name%-16s $c1%9d $s1%8.2f $c2%10d $s2%8.2f $rowsX%7.1fx $timeX%7.1fx  ${if (quad) "QUADRATIC?" else "linear"}")
    }
    spark.stop()
    if (fails > 0) { System.err.println(s"[events-probe] FAIL: $fails op(s) grew super-linearly"); sys.exit(1) }
  }

  /** Stage a FULL synthetic sf1 testdata dir (10× sf0.1) so the ordinary
    * correctness gate (graft.Verify + tools/check.py) can run at bench
    * scale: gates verify at sf0.01 while bench runs sf0.1/sf1, so a
    * scale-dependent bug (threshold routing, cutover paths, block
    * growth) could pass every gate and still answer wrongly where the
    * bench numbers are earned. Replication schemes per table family
    * mirror the growth probes: documents get the bijective per-replica
    * token prefix (within-replica near-dup structure preserved exactly,
    * replicas mutually dissimilar), embeddings/new sales keys offset by
    * 1e9 per replica, customers get the 3-char tag insert (cross-replica
    * name distance ≥ 3), events time-shift 366 days per replica. The
    * oracle recomputes truth on whatever data it is handed, so ANY
    * scheme is correctness-valid — these keep result sizes ~10× instead
    * of ~100×, which is what makes the sf1 oracle run affordable.
    *
    * Usage: runMain graft.ScaleProbe --stage-sf1 [workDir]
    * then:  runMain graft.Verify <workDir> <outDir> <heavy,query,list>
    *        python3 tools/check.py <workDir> <outDir> --only <same list>
    */
  private def stageSf1(rest: Array[String]): Unit =
    stageReplicas(if (rest.length > 0) rest(0) else "/tmp/graft_sf1", 10)

  /** sf10: the same replication schemes at 100× sf0.1 — 60M-row fact,
    * 500k docs, 200k vectors. First staging above sf1; feeds the
    * [[sf10Bench]] rows and the sf10 gate rotation.
    */
  private def stageSf10(rest: Array[String]): Unit =
    stageReplicas(if (rest.length > 0) rest(0) else "/tmp/graft_sf10", 100)

  /** Arbitrary-N staging (`--stage-nx <n> <dir>`): the same replication
    * schemes at any multiple of sf0.1 — the sf100 (1000×) probe stages
    * through this.
    */
  private def stageNx(rest: Array[String]): Unit = {
    val n = if (rest.length >= 2) scala.util.Try(rest(0).toInt).toOption
            else None
    if (n.forall(_ <= 0)) {
      System.err.println("usage: --stage-nx <n> <dir>   (n > 0; stages " +
        "n bijective replicas of sf0.1 into <dir>)")
      sys.exit(2)
    }
    stageReplicas(rest(1), n.get)
  }

  private def stageReplicas(work: String, n: Int): Unit = {
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.open(src)
    val reps = spark.range(n).select(col("id").as("rep"))
    // replica 0 keeps the RAW text: fixed-vocabulary operators (the BM25
    // query terms, boilerplate thresholds) must still find their tokens
    // at sf1 or their gates pass vacuously on empty results — replicas
    // 1..n-1 get the bijective token prefix that makes them mutually
    // (and from replica 0) dissimilar
    Tables.documents(spark, src).crossJoin(reps).selectExpr(
        "doc_id + rep * 1000000000 AS doc_id",
        // NB triple-quoted Scala: backslashes are literal here, so '\\s+'
        // reaches SQL as-is and parses to the \s+ regex (a normal Scala
        // string needs '\\\\s+' for the same SQL text — getting this
        // wrong makes split() match nothing, ONE token per doc, and the
        // "prefixed" replicas stay ~96% similar to replica 0)
        """CASE WHEN rep = 0 THEN text
           ELSE array_join(transform(split(trim(text), '\\s+'),
                t -> concat('r', CAST(rep AS STRING), '_', t)), ' ') END AS text""",
        "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    Tables.embeddings(spark, src).crossJoin(reps).selectExpr(
        "vec_id + rep * 1000000000 AS vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    Tables.customer(spark, src).crossJoin(reps).selectExpr(
        "c_custkey + rep * 1000000000 AS c_custkey",
        """concat(substring(c_name, 1, 9), repeat(char(65 + rep % 26), 3),
           substring(c_name, 10)) AS c_name""",
        "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$work/customer.parquet")
    // sales fact: offset order keys; custkeys stay in the replica-0 id
    // range, which the replicated customer table still contains
    Tables.orders(spark, src).crossJoin(reps).selectExpr(
        "o_orderkey + rep * 1000000000 AS o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$work/orders.parquet")
    Tables.lineitem(spark, src).crossJoin(reps).selectExpr(
        "l_orderkey + rep * 1000000000 AS l_orderkey", "l_partkey",
        "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$work/lineitem.parquet")
    Tables.events(spark, src).crossJoin(reps).selectExpr(
        "event_id + rep * 1000000000 AS event_id",
        "timestampadd(DAY, CAST(rep * 366 AS INT), ts) AS ts",
        "user_id + rep * 1000000000 AS user_id",
        "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    Seq("region", "nation", "supplier", "part").foreach { t =>
      Tables.table(spark, src, t).write.mode("overwrite")
        .parquet(s"$work/$t.parquet")
    }
    println(s"[stage] staged ${n}x sf0.1 at $work")
    spark.stop()
  }

  /** sf10 bench: the star build, the 10-KPI suite, and the three
    * hottest extension index builds over the staged sf10 dir (100×
    * sf0.1 — a 60M-row fact, ~500× the reference's data), each with a
    * plan fingerprint so scale-up is provably a data change, not a plan
    * change. Prints one JSON line mirroring graft.Bench's shape.
    *
    * Usage: runMain graft.ScaleProbe --stage-sf10 [dir]
    *        runMain graft.ScaleProbe --sf10 [dir]
    */
  private def sf10Bench(rest: Array[String]): Unit = {
    val work = if (rest.nonEmpty) rest(0) else "/tmp/graft_sf10"
    // the mandate's partition-sizing lever, exposed: shuffle partitions
    // must grow with the data so sort/agg state fits in executor memory
    // (32 is right up to sf10; the 600M-row sf100 fact at 32 puts ~19M
    // rows in one sort task). A deployment sets this from data volume;
    // the probe surfaces it as an env knob so the sf100 row documents
    // the setting it ran at.
    // r19: the default is no longer a constant — GraftSession derives
    // it from the staged tables' physical size
    // ([[Tuning.shufflePartitions]]), so the sf100 run needs no hand-set
    // knob; the env var remains as an explicit override
    // the scan-side sibling of the shuffle lever: a 60M-row fact lands
    // in ~12 default (128 MB) splits — under-parallelized on 32 cores
    // and each split's partial-agg state oversized; smaller splits
    // trade task overhead for parallelism + bounded state
    val maxPart = sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES",
      "134217728")
    val spark = GraftSession.open(work)
    spark.conf.set("spark.sql.files.maxPartitionBytes", maxPart)
    graft.functions.GraftFunctions.register(spark)

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val plans = scala.collection.mutable.LinkedHashMap[String, String]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    // SPARK_GRAFT_SF10_ONLY=substr,substr re-runs a subset (the graph
    // row costs minutes; iterating on one section shouldn't re-pay all)
    val only = sys.env.get("SPARK_GRAFT_SF10_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def want(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    def time(name: String)(f: => Unit): Unit = if (want(name)) {
      val t0 = System.nanoTime()
      try { f; times(name) = (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[sf10] $name failed: ${e.getMessage}")
        times(name) = -1.0
      }
    }
    def fingerprint(name: String, df: => DataFrame): Unit =
      try {
        val p = df.queryExecution.executedPlan.toString
        val ex = "Exchange hashpartitioning".r.findAllIn(p).length
        val so = "(?m)^[^\\n]*\\bSort \\[".r.findAllIn(p).length
        plans(name) = s"exchanges=$ex sorts=$so " +
          s"smj=${p.contains("SortMergeJoin")} bhj=${p.contains("BroadcastHashJoin")}"
      } catch { case e: Throwable =>
        plans(name) = s"fingerprint failed: ${e.getMessage}"
      }

    val dw = s"$work/dw_sf10"
    time("etl_star_build_sf10") { StarBench.starBuildTo(spark, work, dw) }
    if (want("etl")) {
      rows("fato") = spark.read.parquet(s"$dw/fato_vendas").count()
      fingerprint("etl_star_build", etl.Star.fatoVendas(spark, work))
    }
    time("kpi_suite_sf10") {
      StarBench.kpiSuite(spark, dw).foreach { case (_, q) => q().collect() }
    }
    if (want("kpi")) StarBench.kpiSuite(spark, dw).take(2).foreach {
      case (n2, q) => fingerprint(n2, q())
    }

    // the three hottest extension builds (the r18 directive's picks)
    time("dedup_minhash_lsh_sf10") {
      rows("minhash_pairs") = graft.text.TextOps.minhashLsh(spark, work).count()
    }
    if (want("minhash"))
      fingerprint("dedup_minhash_lsh", graft.text.TextOps.minhashLsh(spark, work))
    val bmDir = s"$work/bm25_idx"
    time("bm25_index_build_sf10") {
      graft.text.RetrievalOps.buildBm25Index(spark, work, bmDir)
    }
    time("bm25_topk_served_sf10") {
      rows("bm25_topk") = graft.text.RetrievalOps.bm25Indexed(spark, work).count()
    }
    val gDir = s"$work/graph_idx"
    time("ann_graph_index_build_sf10") {
      graft.sim.EmbeddingOps.buildGraphIndex(spark, work, gDir)
    }
    time("ann_graph_served_sf10") {
      rows("graph_topk") =
        graft.sim.EmbeddingOps.annGraphIndexed(spark, work, gDir).count()
    }

    val tj = times.map { case (k, v) => s""""$k":${f"$v%.2f"}""" }.mkString(",")
    val pj = plans.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val rj = rows.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"sf10_bench","unit":"sec","queries":{$tj},"rows":{$rj},"plans":{$pj}}""")
    spark.stop()
  }

  /** The FUZZY-MATCH growth probe: customers replicated Nx with offset
    * custkeys and a 3-char per-replica tag INSERTED after "Customer#"
    * (name surgery at a fixed position). Within a replica every pairwise
    * distance is unchanged (the tag is identical), so each replica
    * carries the source's exact near-dup structure; across replicas the
    * tags differ in all 3 positions, so every cross-replica distance is
    * ≥ 3 > τ — true pairs scale EXACTLY Nx while each (nation) block's
    * membership grows Nx. That is precisely the regime where the
    * block-quadratic DP must read ~N²x probes/time and an
    * entropy-independent candidate generator must read ~Nx. All three
    * forms are counted (they must agree at both scales — a scale-only
    * correctness check no sf0.01 gate can express) and timed.
    */
  private def fuzzyProbe(rest: Array[String]): Unit = {
    val n = if (rest.length > 0) rest(0).toInt else 10
    val work = if (rest.length > 1) rest(1) else "/tmp/graft_scaleprobe_fuzzy"
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.open(src)

    val reps = spark.range(n).select(col("id").as("rep"))
    Tables.customer(spark, src).crossJoin(reps).selectExpr(
        "c_custkey + rep * 1000000000 AS c_custkey",
        """concat(substring(c_name, 1, 9), repeat(char(65 + rep % 26), 3),
           substring(c_name, 10)) AS c_name""",
        "c_nationkey")
      .write.mode("overwrite").parquet(s"$work/customer.parquet")

    val forms: Seq[(String, String => DataFrame)] = Seq(
      ("blocked_dp", d => graft.ops.QualityOps.fuzzyMatch(spark, d)),
      ("edjoin", d => graft.ops.QualityOps.fuzzyMatchEdJoin(spark, d)),
      ("delete_nbr", d => graft.ops.QualityOps.fuzzyMatchDeleteNbr(spark, d)))
    println(f"${"form"}%-12s ${"1x_pairs"}%9s ${"1x_sec"}%8s ${s"${n}x_pairs"}%10s ${s"${n}x_sec"}%8s ${"rows_x"}%8s ${"time_x"}%8s")
    // agreement is pinned on CONTENT (count + order-free row hash), not
    // just cardinality — a form that emitted the right number of wrong
    // pairs would still be caught. bit_xor, not sum: XOR of row hashes
    // is order-free AND overflow-free (summing ~10⁶ xxhash64 longs
    // throws ARITHMETIC_OVERFLOW under ANSI mode); rows are distinct
    // pairs, so XOR's duplicate-cancellation cannot mask anything the
    // count doesn't catch.
    def fp(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(id_a, id_b, dist))"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val res = scala.collection.mutable.Map.empty[String, ((Long, Long), (Long, Long))]
    forms.foreach { case (name, f) =>
      val t0 = System.nanoTime(); val h1 = fp(f(src))
      val s1 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime(); val h2 = fp(f(work))
      val s2 = (System.nanoTime() - t1) / 1e9
      res(name) = (h1, h2)
      println(f"$name%-12s ${h1._1}%9d $s1%8.2f ${h2._1}%10d $s2%8.2f ${h2._1.toDouble / math.max(h1._1, 1L)}%7.1fx ${s2 / s1}%7.1fx")
    }
    if (res.values.toSet.size != 1) {
      System.err.println(s"[fuzzy-probe] FAIL: forms disagree: $res"); spark.stop(); sys.exit(1)
    }
    val ((c1, _), (c2, _)) = res("delete_nbr")
    if (c2 != n * c1) {
      System.err.println(s"[fuzzy-probe] FAIL: pairs must scale exactly ${n}x ($c1 -> $c2)"); spark.stop(); sys.exit(1)
    }
    spark.stop()
  }

  /** The dedup/ANN growth probe (see object Scaladoc). A quadratic
    * candidate path would grow pairs/time ~N²x on Nx independent corpora;
    * the banded paths must stay ~linear. FAIL threshold: > 3·N growth
    * (linear with generous slack, far under the N² signature).
    */
  private def dedupProbe(rest: Array[String]): Unit = {
    val n = if (rest.length > 0) rest(0).toInt else 10
    val work = if (rest.length > 1) rest(1) else "/tmp/graft_scaleprobe_dedup"
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.open(src)

    val reps = spark.range(n).select(col("id").as("rep"))
    Tables.documents(spark, src).crossJoin(reps).selectExpr(
        "doc_id + rep * 1000000000 AS doc_id",
        // per-replica token prefix: bijective within a replica (shingle
        // sets and token counts preserved), disjoint across replicas
        "array_join(transform(split(trim(text), '\\\\s+'), t -> concat('r', CAST(rep AS STRING), '_', t)), ' ') AS text",
        "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    Tables.embeddings(spark, src).crossJoin(reps).selectExpr(
        "vec_id + rep * 1000000000 AS vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")

    // rowsChecked: whether the OUTPUT pair count is expected to scale
    // ~linearly under this perturbation. Jaccard's is EXACT: the token
    // prefix maps shingle sets bijectively, so each replica reproduces
    // the 1x pair set verbatim. MinHash-LSH's is linear only in
    // EXPECTATION — the 8 minhash values re-randomize per replica, so
    // band collisions for moderately-similar docs redraw each replica
    // (measured 11.0x on 10 replicas); the 3N threshold leaves the slack
    // that statistical claim needs. FALSE for simhash64: its signature
    // space also re-randomizes, but with a HARD output cliff — a
    // templated doc family can legitimately collapse within the hamming
    // threshold in one replica and emit ~|family|² REAL pairs (measured
    // r8: replica 3 alone produced 11.7k of 17.5k pairs, zero
    // cross-replica pairs) — output density is a corpus property, not an
    // algorithmic cost; the time ratio is the quadratic detector there.
    // ivf_probe returns a FIXED top-k row count at any corpus size, so
    // only its time is meaningful too.
    val ops: Seq[(String, String => Long, Boolean)] = Seq(
      ("minhash_lsh", d => text.TextOps.minhashLsh(spark, d).count(), true),
      ("jaccard_ssjoin", d => text.TextOps.jaccardPairs(spark, d).count(), true),
      ("simhash64_bands", d => text.TextOps.simhashPairs64(spark, d).count(), false),
      // passage dedup's span count is EXACT under the prefix perturbation
      // (window strings rename bijectively within a replica, stay disjoint
      // across replicas), so both rows and time must scale ~Nx
      ("passage_windows", d => text.TextOps.passageDedup(spark, d).count(), true),
      ("ivf_probe", d => sim.EmbeddingOps.annIvf(spark, d).count(), false),
      // curation shapes (r8): decontamination's shingle-hash join output
      // scales exactly Nx (prefix-disjoint replicas contribute zero
      // cross-replica overlap); KMV always returns one row, so only its
      // time (distinct + fixed top-k over Nx shingles) is checked
      ("decontaminate", d => text.CurationOps.decontaminate(spark, d).count(), true),
      // the ONE-PASS production form — the gate twin carries an exact
      // distinct count that exists only to validate the estimator and
      // would dominate (and misrepresent) the scale measurement
      ("kmv_sketch", d => text.CurationOps.sketchKmvOnePass(spark, d).count(), false),
      // the r9 SHARDED cumsum windows: token_budget's output is
      // budget-bound (fixed rows at any corpus size — only time is
      // meaningful); seq_packing emits one row per doc, so rows must
      // scale exactly Nx and time ~Nx (the sharding's whole point: the
      // dominant language no longer serializes through one reducer)
      ("token_budget", d => text.CurationOps.tokenBudgetFill(spark, d).count(), false),
      ("seq_packing", d => text.CurationOps.seqPacking(spark, d).count(), true),
      // r11 heavy hitters: two corpus passes + an O(k) summary merge —
      // time must scale ~Nx. Rows are NOT comparable across scales: the
      // support threshold grows with n while a prefix-disjoint replica's
      // per-shingle counts stay at their 1x values, so heavy rows
      // legitimately vanish at Nx — time is the only honest check here
      ("heavy_hitters", d => text.CurationOps.heavyHitters(spark, d).count(), false),
      // r12 training-layout ops. split: one row per doc, edges bounded by
      // near-dup density — rows must scale ~Nx (LSH re-randomizes per
      // replica like minhash_lsh, so 3N slack applies) and time ~Nx.
      // shuffle_shards: one row per doc, per-shard rank — rows exactly Nx.
      // mix_temperature: output tracks Σ targets ≈ corpus size, ~Nx; the
      // sharded rank keeps the dominant language off a single reducer.
      // sample_diverse: FIXED quota × cells output at any corpus size —
      // only time is meaningful (one assignment pass + O(Q) aggregator).
      ("split_leakage", d => text.TextOps.splitLeakageSafe(spark, d).count(), true),
      ("shuffle_shards", d => text.CurationOps.shuffleShards(spark, d).count(), true),
      ("mix_temperature", d => text.CurationOps.mixTemperature(spark, d).count(), true),
      ("sample_diverse", d => sim.EmbeddingOps.sampleDiverse(spark, d).count(), false),
      // r12 selection signals: novelty/dsir/pii emit one row per doc —
      // rows exactly Nx; novelty's shingle-hash anti-join and dsir's
      // bucket join + doc_id groupBy are equi shapes, so time must track
      // ~Nx (the prefix perturbation keeps replicas' shingle/bucket
      // domains disjoint, so the reference store and the per-bucket
      // counts grow Nx without cross-replica collisions). The IVF-served
      // hard negatives return a fixed top-k for the 8 demo queries at
      // any corpus size — only time is meaningful (probe is cell-bound)
      ("ngram_novelty", d => text.CurationOps.ngramNovelty(spark, d).count(), true),
      ("dsir_score", d => text.CurationOps.dsirScore(spark, d).count(), true),
      ("pii_luhn", d => text.CurationOps.piiLuhn(spark, d).count(), true),
      ("hard_neg_ivf", d => sim.EmbeddingOps.hardNegativesIvf(spark, d).count(), false),
      // r12.4: BM25 end-to-end. The replica token prefix makes every
      // replica's vocabulary disjoint, so the fixed query set matches
      // nothing beyond its own replica (rows not meaningful) — the
      // measured cost is the index construction (tokenize + tf/df
      // groupBys + stats), which must track ~Nx: postings grow Nx and
      // both groupBys are equi-shuffles on (doc, term)/(term) keys.
      ("bm25_topk", d => text.RetrievalOps.bm25TopK(spark, d).count(), false),
      // r12.6: PMI's bigram/unigram counts are per-replica disjoint under
      // the token prefix (both groupBys equi-shuffle on the gram), output
      // is the fixed top-50 — only time is meaningful. The weighted
      // sample returns its fixed k at any corpus size — time is the
      // hash projection + TakeOrderedAndProject, must track ~Nx.
      ("phrase_pmi", d => graft.ops.QualityOps.phrasePmi(spark, d).count(), false),
      ("weighted_sample", d => graft.ops.QualityOps.weightedSample(spark, d).count(), false),
      // r12.6: five BPE rounds — each is one corpus-wide pair-count
      // shuffle + a per-sequence window pass, so time must track ~Nx;
      // the merge table is 5 rows at any corpus size (the learned pairs
      // themselves may differ across scales — replica prefixes change
      // the vocabulary — so only time is meaningful)
      ("bpe_merges", d => graft.ops.QualityOps.bpeMerges(spark, d).count(), false))
    println(f"${"op"}%-16s ${"1x_rows"}%9s ${"1x_sec"}%8s ${s"${n}x_rows"}%10s ${s"${n}x_sec"}%8s ${"rows_x"}%8s ${"time_x"}%8s  verdict")
    var fails = 0
    ops.foreach { case (name, f, rowsChecked) =>
      val t0 = System.nanoTime(); val c1 = f(src)
      val s1 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime(); val c2 = f(work)
      val s2 = (System.nanoTime() - t1) / 1e9
      val rowsX = c2.toDouble / math.max(c1, 1L)
      val timeX = s2 / s1
      val grewQuadratic = timeX > 3.0 * n || (rowsChecked && rowsX > 3.0 * n)
      if (grewQuadratic) fails += 1
      println(f"$name%-16s $c1%9d $s1%8.2f $c2%10d $s2%8.2f $rowsX%7.1fx $timeX%7.1fx  ${if (grewQuadratic) "QUADRATIC?" else "linear"}")
    }
    // r10: incremental index appends — the cost contract is O(batch):
    // at Nx corpora the arrival batch is exactly Nx vectors, so append
    // time must track ~Nx (linear in the batch) and NEVER the rebuild's
    // O(corpus × Lloyd rounds). The build runs untimed; only the append
    // is measured.
    println()
    println(f"${"append op"}%-16s ${"1x_batch"}%9s ${"1x_sec"}%8s ${s"${n}x_batch"}%10s ${s"${n}x_sec"}%8s ${"time_x"}%8s  verdict")
    var appendFails = 0
    def appendRow(name: String,
        build: (DataFrame, String) => Unit,
        append: (DataFrame, String) => Unit): Unit = {
      def one(d: String): (Long, Double) = {
        val base = Tables.embeddings(spark, d)
          .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
        val arrival = col("vec_id") % 10 === 9
        val dir = s"$work/idx_${name}_${math.abs(d.hashCode)}"
        build(base.filter(!arrival), dir)
        val cnt = base.filter(arrival).count()
        val t0 = System.nanoTime()
        append(base.filter(arrival), dir)
        (cnt, (System.nanoTime() - t0) / 1e9)
      }
      val (c1, s1) = one(src)
      val (c2, s2) = one(work)
      val timeX = s2 / s1
      val quad = timeX > 3.0 * n
      if (quad) appendFails += 1
      println(f"$name%-16s $c1%9d $s1%8.2f $c2%10d $s2%8.2f $timeX%7.1fx  ${if (quad) "QUADRATIC?" else "linear"}")
    }
    appendRow("kmeans_append",
      (b, dir) => sim.EmbeddingOps.buildIvfIndexKmeansOn(spark, b, b, dir, "probe"),
      (b, dir) => { sim.EmbeddingOps.appendIvfIndexKmeans(spark, b, dir, batchId = 0L): Unit })
    appendRow("ivfpq_append",
      (b, dir) => sim.EmbeddingOps.buildIvfPqIndexOn(spark, b, b, dir),
      (b, dir) => sim.EmbeddingOps.appendIvfPqIndex(spark, b, dir, batchId = 0L))
    spark.stop()
    if (fails + appendFails > 0) { System.err.println(s"[dedup-probe] FAIL: ${fails + appendFails} op(s) grew super-linearly"); sys.exit(1) }
  }
}
