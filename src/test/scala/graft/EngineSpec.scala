package graft

import org.apache.spark.sql.functions._
import graft.etl.{Star, SurrogateKeys}

/** Engine-level invariants on the testdata star + operator suites.
  * (Value-level correctness is covered by the DuckDB oracle gate —
  * tools/check.py; these specs pin structural properties and the
  * dense/distributed SK equivalence.)
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("surrogate keys: dense == denseDistributed (contiguous, deterministic)") {
    val df = spark.range(1000).select(
      (col("id") * 7919 % 1000).as("k"),
      concat(lit("v"), col("id")).as("v"))
      .repartition(7)
    val a = SurrogateKeys.dense(df, "sk", Seq(col("k"), col("v")))
      .select("k", "v", "sk").as[(Long, String, Int)].collect().sortBy(_._3)
    val b = SurrogateKeys.denseDistributed(df, "sk", Seq(col("k"), col("v")))
      .select("k", "v", "sk").as[(Long, String, Long)].collect().sortBy(_._3)
    assert(a.map { case (k, v, sk) => (k, v, sk.toLong) }.toSeq === b.toSeq)
    assert(b.map(_._3).toSeq === (1L to 1000L))
  }

  test("surrogate keys: auto routes by plan-stats size; both routes agree") {
    val df = spark.range(500).select(
      (col("id") % 97).as("k"), concat(lit("v"), col("id")).as("v"))
    val viaDense = SurrogateKeys.dense(df, "sk", Seq(col("k"), col("v")))
      .select("k", "v", "sk").as[(Long, String, Int)].collect().sorted
    // default threshold: a 500-row frame routes to the window form
    assert(SurrogateKeys.auto(df, "sk", Seq(col("k"), col("v")))
      .queryExecution.executedPlan.toString.contains("Window"))
    // 1-byte threshold: auto must take the distributed route (no Window
    // operator anywhere in the plan) and still produce identical rows +
    // identical INT sk dtype
    spark.conf.set("graft.sk.windowMaxBytes", "1")
    try {
      val routed = SurrogateKeys.auto(df, "sk", Seq(col("k"), col("v")))
      assert(routed.schema("sk").dataType ===
        org.apache.spark.sql.types.IntegerType)
      assert(!routed.queryExecution.executedPlan.toString.contains("Window"))
      assert(routed.select("k", "v", "sk").as[(Long, String, Int)]
        .collect().sorted === viaDense)
    } finally spark.conf.unset("graft.sk.windowMaxBytes")
  }

  test("fact dim lookups: corpus-sized dims follow conf; bounded dims stay hinted") {
    // with broadcast disabled by conf, the UNHINTED cliente/localidade
    // lookups must fall back to shuffled joins (at 100 TB a forced
    // broadcast of an address-grain dim OOMs), while the explicitly
    // hinted produto/vendedor lookups remain broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val fato = Star.fatoVendas(spark, tiny)
      fato.collect()
      val plan = fato.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), "hinted dims must broadcast")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "unhinted corpus-sized dims must honor the conf and shuffle")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed header⨝detail: no Exchange under the orderkey join; rows identical") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off so the physical tree is inspectable node-by-node (stages
    // would hide exchanges); broadcast off so the join strategy under test
    // is the one a 100 TB header⨝detail actually faces
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.Tables.orders(spark, tiny).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bkt_t")
      graft.Tables.lineitem(spark, tiny).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt_t")
      val bucketed = Star.fatoVendasFrom(spark, tiny,
        spark.table("orders_bkt_t"), spark.table("lineitem_bkt_t"))
      val smjs = bucketed.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("o_orderkey")) => j
      }
      assert(smjs.nonEmpty, "header⨝detail must plan as a sort-merge join")
      val shuffles = smjs.head.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        "bucket-co-located join must not shuffle either side")
      // storage layout must not change the answer
      val plain = Star.fatoVendas(spark, tiny)
      assert(bucketed.exceptAll(plain).count() === 0)
      assert(plain.exceptAll(bucketed).count() === 0)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("driver contract: entry() returns rows; every query has runnable shape") {
    assert(SparkEntry.entry(spark).count() > 0) // driver t1 smoke-check
    // each declared oracle has a matching query entry
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
    // ...and each query has an oracle: a query without one silently
    // degrades to the driver's weaker rows-only check — every operator in
    // this engine is supposed to be hash-gated
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without oracles: $unoracled")
    // the queries map is assembled by ++ over module maps, where a
    // duplicated key would silently shadow an implementation — the merged
    // size must equal the sum of the parts
    val parts = Seq(
      graft.text.TextOps.queries, graft.sim.EmbeddingOps.queries,
      graft.multimodal.Multimodal.queries, graft.etl.Scd.queries)
    val overlap = parts.flatMap(_.keySet)
      .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(overlap.isEmpty, s"duplicate query keys across modules: $overlap")
    assert(SparkEntry.queries.size ===
      (SparkEntry.queries.keySet -- parts.flatMap(_.keySet)).size +
        parts.map(_.size).sum,
      "module query keys must not shadow the base map")
  }

  test("star fact: row count = lineitem count (all keys matched), no null core SKs") {
    val fato = Star.fatoVendas(spark, tiny)
    assert(fato.count() === 6000)
    // the reference prunes only produto/cliente/tempo
    // (dags/etl_fato_vendas.py dropna subset) — localidade/vendedor are
    // nullable passthrough; in this testdata every key happens to resolve
    assert(fato.filter($"sk_produto".isNull || $"sk_cliente".isNull ||
      $"sk_tempo".isNull).count() === 0)
  }

  test("star fact: NUMERIC(18,2) money columns; metrics reconcile to the cent") {
    val fato = Star.fatoVendas(spark, tiny)
    // DDL parity (create_dw_tables.sql:62-64): the stored surface IS
    // decimal(18,2), not double
    import org.apache.spark.sql.types.DecimalType
    Seq("valor_bruto", "valor_desconto", "valor_total").foreach { c =>
      assert(fato.schema(c).dataType === DecimalType(18, 2), c)
    }
    // total + desconto == bruto held exactly at scale 4; after the two
    // independent HALF_UP roundings to the declared scale 2 it can differ
    // by at most one cent (both halves tie upward) — the same reconciliation
    // bound a Postgres NUMERIC(18,2) fact table has
    val bad = fato.filter(
      abs($"valor_total" + $"valor_desconto" - $"valor_bruto") >
        lit("0.01").cast("decimal(4,2)"))
    assert(bad.count() === 0)
  }

  test("kpi consistency: kpi2 == sum over kpi7 nation rollup") {
    val fato = Star.fatoVendas(spark, tiny)
    val total = graft.kpi.Kpis.kpi2FaturamentoLiquido(fato).head().getDouble(0)
    val byNation = graft.kpi.Kpis.kpi7PorNacao(fato, Star.dimCliente(spark, tiny))
      .agg(sum("total_vendas")).head().getDouble(0)
    assert(math.abs(total - byNation) < 1e-6)
  }

  test("text ops: fingerprints deterministic; jaccard self-similarity = 1") {
    val f1 = graft.text.TextOps.fingerprint(spark, tiny).collect()
    val f2 = graft.text.TextOps.fingerprint(spark, tiny).collect()
    assert(f1 === f2)
    assert(f1.forall(_.getAs[String]("simhash").length === 16))
    // a doc joined with itself has jaccard exactly 1.0
    val d = graft.Tables.documents(spark, tiny).limit(5)
    val sh = graft.text.TextExprs.shingles3(graft.text.TextExprs.tokens("text"))
    val t = d.selectExpr("doc_id", s"array_distinct(${sh.spark}) AS shd")
    val self = t.as("a").join(t.as("b"), "doc_id")
      .selectExpr("size(filter(a.shd, x -> array_contains(b.shd, x))) AS i",
        "size(a.shd) AS n")
    assert(self.filter($"i" =!= $"n").count() === 0)
  }

  test("embeddings: ann returns k neighbors per query with sims in [-1,1]") {
    val ann = graft.sim.EmbeddingOps.annBruteForce(spark, tiny)
    val perQuery = ann.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getAs[Long]("count") === 5L))
    assert(ann.filter($"sim" > 1.0 || $"sim" < -1.0).count() === 0)
    // ranks strictly ordered by sim within query
    val bad = ann.as("x").join(ann.as("y"),
      $"x.query_id" === $"y.query_id" && $"x.rank" < $"y.rank" &&
        $"x.sim" < $"y.sim")
    assert(bad.count() === 0)
  }

  test("composed analytics plans: top-k never global-sorts; no cartesian anywhere") {
    val q3 = ops.RelationalOps.shippingPriority(spark, tiny)
    q3.collect()
    val p3 = q3.queryExecution.executedPlan.toString
    assert(p3.contains("TakeOrderedAndProject"),
      s"Q3's top-10 must be a distributed top-k:\n$p3")
    val q5 = ops.RelationalOps.regionalVolume(spark, tiny)
    q5.collect()
    val p5 = q5.queryExecution.executedPlan.toString
    Seq(p3, p5).foreach { p =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"composed analytics must stay equi-join only:\n$p")
    }
    assert(p5.contains("BroadcastHashJoin"),
      s"nation/region must broadcast into the Q5 spine:\n$p5")
  }

  test("funnel: strict ordering holds and matches an in-JVM replay") {
    val rows = ops.RelationalOps.funnelSteps(spark, tiny).collect()
    assert(rows.nonEmpty)
    // strict order inside each emitted row
    rows.foreach { r =>
      val tv = r.getTimestamp(1)
      if (!r.isNullAt(2)) assert(r.getTimestamp(2).after(tv), s"user ${r.getLong(0)}")
      if (!r.isNullAt(3)) {
        assert(!r.isNullAt(2), "purchase step requires the click step")
        assert(r.getTimestamp(3).after(r.getTimestamp(2)), s"user ${r.getLong(0)}")
      }
    }
    // independent replay over the raw events, in epoch micros
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val ev = Tables.events(spark, tiny)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    rows.foreach { r =>
      val u = r.getLong(0)
      val evs = byUser(u)
      val tv = evs.filter(_._2 == "view").map(_._3).min
      assert(us(r.getTimestamp(1)) == tv, s"user $u first view")
      val clicks = evs.filter(e => e._2 == "click" && e._3 > tv).map(_._3)
      assert(r.isNullAt(2) == clicks.isEmpty, s"user $u click presence")
      if (clicks.nonEmpty) {
        val tc = clicks.min
        assert(us(r.getTimestamp(2)) == tc, s"user $u first post-view click")
        val buys = evs.filter(e => e._2 == "purchase" && e._3 > tc).map(_._3)
        assert(r.isNullAt(3) == buys.isEmpty, s"user $u purchase presence")
        if (buys.nonEmpty)
          assert(us(r.getTimestamp(3)) == buys.min, s"user $u first purchase")
      }
    }
  }

  test("hard negatives: k rows per query, no neighbor shares the query's label") {
    val labels = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS id", "CAST(label AS INT) AS l")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = graft.sim.EmbeddingOps.hardNegatives(spark, tiny).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == labels.keySet.filter(_ < 8L),
      "every demo query must produce negatives")
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q must get exactly k negatives")
      rs.foreach { r =>
        assert(labels(r.getLong(1)) != labels(q),
          s"query $q: neighbor ${r.getLong(1)} shares its label — not a negative")
      }
    }
  }

  test("hard negatives via IVF probe: label exclusion holds on the probed candidates") {
    val labels = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS id", "CAST(label AS INT) AS l")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = graft.sim.EmbeddingOps.hardNegativesIvf(spark, tiny, 2).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length <= 5, s"query $q: at most k negatives from the probe")
      rs.foreach { r =>
        assert(labels(r.getLong(2)) != labels(q),
          s"query $q: probed neighbor ${r.getLong(2)} shares its label")
      }
    }
  }

  test("dedup clusters: iteration caches don't accrete; labels are component minima") {
    def pinnedNonCheckpoint: Int = spark.sparkContext.getPersistentRDDs.values
      .count(r => !r.isCheckpointed)
    // force the DISTRIBUTED label-propagation route (at tiny scale the
    // auto-router would take the driver union-find, which has no caches
    // to leak) — this test pins the loop's hygiene
    spark.conf.set("graft.cc.collectMaxEdges", "0")
    try {
      val before = pinnedNonCheckpoint
      val out = graft.text.TextOps.dedupClusters(spark, tiny)
      val rows = out.collect()
      // every loop cache and the edges cache must be unpersisted on
      // return — a long-running service can invoke this repeatedly
      // without accreting CacheManager pins (localCheckpoint blocks are
      // excluded: they carry no pin and the ContextCleaner reclaims them
      // on unreachability)
      assert(pinnedNonCheckpoint === before,
        s"dedupClusters leaked ${pinnedNonCheckpoint - before} cached RDD pins")
      // min-label propagation invariant: a converged label is the
      // smallest doc id reachable in the component, hence never above
      // the member's id
      assert(rows.forall(r => r.getLong(1) <= r.getLong(0)))
      // and invoking it AGAIN must not grow the pin count either
      graft.text.TextOps.dedupClusters(spark, tiny).count()
      assert(pinnedNonCheckpoint === before)
    } finally spark.conf.unset("graft.cc.collectMaxEdges")
  }

  test("dedup keep-first picks each user's earliest event") {
    val got = graft.ops.RelationalOps.dedupKeepFirst(spark, tiny)
    val manual = graft.Tables.events(spark, tiny)
      .groupBy("user_id").agg(min(struct($"ts", $"event_id")).as("m"))
      .select($"user_id", $"m.event_id".as("first_event_id"))
    val diff = got.select("user_id", "first_event_id")
      .except(manual.select("user_id", "first_event_id"))
    assert(diff.count() === 0)
  }

  test("decimal overflow posture: sum headroom, ANSI behavior, widened contract") {
    import org.apache.spark.sql.types.DecimalType
    val fato = Star.fatoVendas(spark, tiny)
    // Spark's sum over DECIMAL(18,2) accumulates in DECIMAL(28,2): ten
    // extra integer digits = 10^10 rows of MAX-magnitude (16-digit) values
    // before overflow. A 100 TB fact is ~10^12 line items, but real money
    // values are ~6 digits, leaving ~10^20 row headroom — safe. The
    // contract below pins what happens if that margin is ever consumed.
    assert(fato.select(sum($"valor_total")).schema.head.dataType ===
      DecimalType(28, 2))
    // simulate the exhausted-headroom case directly at the accumulator's
    // own width: DECIMAL(38,2) inputs near max, where sum() cannot widen
    // further (38 is Spark's hard precision cap)
    val big = Seq.fill(4)("9" * 36 + ".99").toDF("v")
      .select($"v".cast("decimal(38,2)").as("v"))
    val ansiSaved = spark.conf.get("spark.sql.ansi.enabled")
    try {
      // ANSI on (Spark 4 default): overflow must FAIL LOUDLY
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val e = intercept[Exception] { big.select(sum($"v")).collect() }
      assert(e.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"),
        s"ANSI overflow must raise, got: ${e.getMessage}")
      // ANSI off (legacy): overflow degrades to NULL — silently. This is
      // why the 100 TB money path keeps ANSI ON: a null grand total is a
      // wrong report, an exception is an operational signal.
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(big.select(sum($"v")).head().isNullAt(0),
        "non-ANSI decimal overflow must yield NULL (never a wrapped value)")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiSaved)
    // the widening escape hatch: pre-cast the column to DECIMAL(38,2) and
    // the SAME aggregation gains 20 integer digits of headroom over the
    // (28,2) accumulator while staying exact
    val widened = fato.select(sum($"valor_total".cast("decimal(38,2)")))
    assert(widened.schema.head.dataType === DecimalType(38, 2))
    assert(widened.head().getDecimal(0) ===
      fato.select(sum($"valor_total")).head().getDecimal(0)
        .setScale(2))
  }

  test("sketch aggregates: HLL distinct and approx percentile within bounds") {
    // Sketches are engine-specific (Spark HLL++ / GK vs DuckDB's own), so
    // they can't hash-match an oracle — the contract is a bounded error
    // against the exact answers, asserted here instead.
    val li = spark.read.parquet(s"$tiny/lineitem.parquet")
    val exactD = li.select(countDistinct($"l_partkey")).head().getLong(0)
    val approxD = li.select(approx_count_distinct($"l_partkey", 0.02))
      .head().getLong(0)
    assert(math.abs(approxD - exactD).toDouble / exactD <= 0.05,
      s"HLL++ rsd=0.02 must land within 5%: exact=$exactD approx=$approxD")
    val exactP = li.select(expr("percentile(l_extendedprice, 0.5)"))
      .head().getDouble(0)
    val approxP = li.select(expr(
      "approx_percentile(l_extendedprice, 0.5, 1000)")).head().getDouble(0)
    assert(math.abs(approxP - exactP) / exactP <= 0.02,
      s"approx_percentile(acc=1000) must land within 2%: $exactP vs $approxP")
  }
}
