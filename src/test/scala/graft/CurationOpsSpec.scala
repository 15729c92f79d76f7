package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import graft.text.CurationOps

/** Invariants for the corpus-curation suite (CurationOps) on sf0.001,
  * complementing the bit-exact DuckDB gate: determinism, rate bounds,
  * structural consistency, and — for the composed pass — agreement with
  * the individual signal queries it is built from.
  */
class CurationOpsSpec extends SparkSpec {

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectNodes(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectNodes) ++
      p.subqueries.flatMap(collectNodes)
  }

  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collectNodes(df.queryExecution.executedPlan)

  test("plan shapes: sampling shuffles only to order; joins are never all-pairs") {
    // stratified sampling is projection+filter: the ONLY exchange allowed
    // is the presentation orderBy's range repartition (which exists for
    // the gate dump, not the 100 TB path)
    val sampleNodes = nodes(CurationOps.sampleStratified(spark, tiny))
    assert(sampleNodes.count(_.isInstanceOf[ShuffleExchangeLike]) <= 1,
      "stratified sample must not shuffle beyond the presentation sort")
    // decontamination: every join must be an equi-join on the shingle
    // hash — a nested-loop/cartesian node means the blocking broke
    val deconNodes = nodes(CurationOps.decontaminate(spark, tiny))
    assert(!deconNodes.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "decontamination joins must stay equi-joins on the 60-bit hash")
  }

  test("stratified sample is deterministic and near the per-lang rates") {
    val s1 = CurationOps.sampleStratified(spark, tiny).collect()
    val s2 = CurationOps.sampleStratified(spark, tiny).collect()
    assert(s1.toSeq == s2.toSeq, "rerun must select the identical corpus")

    val total = spark.read.parquet(s"$tiny/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy(_.getString(1)).map { case (l, rs) => l -> rs.length }
    // nominal rates: en 1/8, zh 1/2, others 1/4; with ~70-200 docs per
    // stratum allow generous binomial slack (±4 sigma-ish)
    val nominal = Map("en" -> 0.125, "zh" -> 0.5).withDefaultValue(0.25)
    for ((l, n) <- total) {
      val p = nominal(l)
      val got = kept.getOrElse(l, 0).toDouble / n
      val slack = 4 * math.sqrt(p * (1 - p) / n)
      assert(math.abs(got - p) <= slack,
        s"lang $l kept ${got}%, nominal $p ± $slack")
    }
  }

  test("quota sample returns exactly k docs per source, positions 1..k") {
    val q = CurationOps.sampleQuota(spark, tiny, k = 5).collect()
    val bySrc = q.groupBy(_.getString(0))
    assert(bySrc.size == 20, "every source stratum represented")
    for ((src, rows) <- bySrc) {
      assert(rows.length == 5, s"$src quota")
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 5), s"$src positions")
    }
    // deterministic: the same doc set on rerun
    val q2 = CurationOps.sampleQuota(spark, tiny, k = 5).collect()
    assert(q.map(_.getLong(2)).toSet == q2.map(_.getLong(2)).toSet)
  }

  test("KMV estimate lands within the expected error band of exact") {
    val r = CurationOps.sketchKmv(spark, tiny).collect().head
    val (k, kth, est, exact, err) =
      (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
    assert(k == 256 && kth > 0 && exact > k)
    assert(est > 0)
    // KMV std error ~ 1/sqrt(k-2) ≈ 6.3%; 30% is a >4-sigma safety bound
    assert(err < 0.30, s"KMV rel error $err vs exact $exact (est $est)")
  }

  test("HLL registers estimate the distinct-shingle count within the error band") {
    // the gated query pins the registers; this probe pins the ESTIMATOR
    // (the count-min split: production output gated, accuracy spec'd)
    val regs = CurationOps.sketchHll(spark, tiny).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(regs.keys.forall(b => b >= 0 && b < 256))
    assert(regs.values.forall(v => v >= 1 && v <= 53))
    // the shared estimator (small-range linear-counting correction
    // included) — the same function the curation funnel CLI reports
    val est = CurationOps.hllEstimateOf(regs)
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val exact = spark.read.parquet(s"$tiny/documents.parquet")
      .selectExpr("explode(shingle_hashes(split(trim(text), '\\\\s+'), 3)) AS h")
      .agg(countDistinct(col("h"))).head().getLong(0)
    val err = math.abs(est - exact) / exact
    // HLL std error ~ 1.04/sqrt(256) = 6.5%; 25% is a ~4-sigma bound
    assert(err < 0.25, s"HLL rel error $err (est $est vs exact $exact)")
  }

  test("KMinValues aggregator: dedups, bounds state at k, matches sort-limit") {
    import graft.functions.KMinValues
    val a = KMinValues(4)
    // duplicates never enter twice; buffer stays sorted and bounded
    val buf = Seq(9L, 7L, 9L, 3L, 7L, 5L, 1L, 3L, 8L).foldLeft(a.zero)(a.reduce)
    assert(buf == Seq(1L, 3L, 5L, 7L))
    // merge dedups across runs and truncates at k
    assert(a.merge(Seq(1L, 3L, 5L), Seq(1L, 2L, 5L, 9L)) == Seq(1L, 2L, 3L, 5L))
    // the one-pass sketch reproduces the distinct+top-k kth minimum exactly
    val onePass = CurationOps.sketchKmvOnePass(spark, tiny).collect().head
    val twoShuffle = CurationOps.sketchKmv(spark, tiny).collect().head
    assert(onePass.getLong(1) == twoShuffle.getLong(1), "identical k-th minimum")
    assert(onePass.getDouble(2) == twoShuffle.getDouble(2), "identical estimate")
  }

  test("redaction counts follow the planted PII and masks erase it") {
    val t = CurationOps.textRedact(spark, tiny)
    val docs = spark.read.parquet(s"$tiny/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
        "CAST(doc_id % 3 AS INT) AS want_emails",
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT) AS want_phones")
    val joined = t.join(docs, "doc_id")
    assert(joined.filter(col("n_emails") =!= col("want_emails")).count() == 0)
    assert(joined.filter(col("n_telefones") =!= col("want_phones")).count() == 0)
    // nothing the email/phone regex matches survives the redacted text
    val leftover = spark.read.parquet(s"$tiny/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
        "regexp_replace(regexp_replace(concat(text, repeat(concat(' contato user', CAST(doc_id AS STRING), '@example.com'), CAST(doc_id % 3 AS INT))), " +
          "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]'), '[0-9]{3}-[0-9]{4}', '[TEL]') AS limpo")
      .filter("limpo RLIKE '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'")
    assert(leftover.count() == 0, "no email survives redaction")
  }

  test("repetition flag is exactly the threshold rule over its own signals") {
    val r = CurationOps.textRepetition(spark, tiny)
    val bad = r.filter(
      (col("razao_trigramas_dup") >= 0.2 || col("fracao_token_top") >= 0.12) =!=
        (col("repetitivo") === 1))
    assert(bad.count() == 0)
    val bounds = r.filter(
      col("razao_tokens_dup") < 0 || col("razao_tokens_dup") > 1 ||
        col("razao_trigramas_dup") < 0 || col("razao_trigramas_dup") > 1 ||
        col("fracao_token_top") <= 0 || col("fracao_token_top") > 1)
    assert(bounds.count() == 0, "all ratios in (0,1]")
  }

  test("an eval doc with an exact train-split duplicate is flagged contaminated") {
    val docs = spark.read.parquet(s"$tiny/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "md5(text) AS h")
    val evalDocs = docs.filter("doc_id % 10 = 0")
    val trainHashes = docs.filter("doc_id % 10 <> 0").select("h").distinct()
    val dupEval = evalDocs.join(trainHashes, Seq("h"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val res = CurationOps.decontaminate(spark, tiny).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    for (id <- dupEval)
      assert(res(id) == 1, s"eval doc $id duplicates a train doc but was not flagged")
    // and every eval doc is reported exactly once
    assert(res.keySet == docs.filter("doc_id % 10 = 0")
      .collect().map(_.getLong(0)).toSet)
  }

  test("mixture resampling hits the per-lang epoch weights") {
    val m = CurationOps.mixEpochs(spark, tiny)
    val perLang = m.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = spark.read.parquet(s"$tiny/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = Map("en" -> 0.75, "zh" -> 2.5).withDefaultValue(1.5)
    for ((l, n) <- total) {
      val got = perLang.getOrElse(l, 0L).toDouble / n
      // the fractional part is a hash draw: allow 4-sigma binomial slack
      val slack = 4 * math.sqrt(0.25 / n)
      assert(math.abs(got - weights(l)) <= slack,
        s"lang $l realized $got epochs, want ${weights(l)} ± $slack")
    }
    // per-doc copies are 1..ceil(w) numbered from 1 (no gaps, no dups)
    val badSeq = m.groupBy("doc_id").agg(
      count(lit(1)).as("n"), max(col("epoca")).as("mx"), min(col("epoca")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(badSeq.count() == 0)
  }

  test("token-budget fill is a maximal prefix of the hash order per lang") {
    val f = CurationOps.tokenBudgetFill(spark, tiny)
    val rows = f.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(3) <= 2000), "running total within budget")
    // maximality: the first EXCLUDED doc per lang would break the budget
    val all = spark.read.parquet(s"$tiny/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "lang",
        "size(split(trim(text), '\\\\s+')) AS n_tokens",
        "substring(md5(CAST(doc_id AS STRING)), 1, 4) AS amostra")
      .collect().map(r => (r.getString(1), r.getString(3), r.getLong(0), r.getInt(2)))
    val keptIds = rows.map(_.getLong(0)).toSet
    for ((lang, docs) <- all.groupBy(_._1)) {
      var cum = 0L
      for ((_, _, id, n) <- docs.sortBy(t => (t._2, t._3))) {
        cum += n
        if (cum <= 2000) assert(keptIds.contains(id), s"$lang doc $id should be kept")
        else assert(!keptIds.contains(id), s"$lang doc $id exceeds the budget")
      }
    }
  }

  test("sequence packing covers each lang contiguously and flags straddlers") {
    val p = CurationOps.seqPacking(spark, tiny).collect()
    for ((_, docs) <- p.groupBy(_.getString(1))) {
      val inOrder = docs.sortBy(_.getLong(0))
      var expectOffset = 0L
      for (r <- inOrder) {
        assert(r.getLong(3) == expectOffset, "offsets are gap-free concatenation")
        val first = r.getLong(3) / 512
        val last = (r.getLong(3) + r.getInt(2) - 1) / 512
        assert(r.getInt(4) == first)
        assert(r.getInt(5) == (if (last > first) 1 else 0))
        expectOffset += r.getInt(2)
      }
    }
  }

  test("budget/packing cumsum windows are sharded, never one reducer per language") {
    for ((name, df) <- Seq(
        "token_budget" -> CurationOps.tokenBudgetFill(spark, tiny),
        "seq_packing" -> CurationOps.seqPacking(spark, tiny),
        "mix_temperature" -> CurationOps.mixTemperature(spark, tiny))) {
      df.collect() // settle the AQE final plan before inspecting it
      // API-level window check (allNodes recurses through the childless
      // QueryStageExec stage boundaries): each WindowExec's partition
      // keys come from its partitionSpec expressions, not from matching
      // "windowspecdefinition" in the rendered string
      val wins = allNodes(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet
      }
      assert(wins.nonEmpty, s"$name should plan window nodes")
      // the corpus-sized cumsum window must partition by (lang, shard);
      // a lang-only window is allowed ONLY for the O(shards)-row offset
      // rollup, which reads an aggregate, never the corpus
      assert(wins.exists(ks => ks.contains("lang") && ks.contains("shard")),
        s"$name: no (lang, shard)-partitioned window — cumsum runs one " +
          s"reducer per language: $wins")
      // and the sharding actually multiplies parallelism on this data:
      // distinct (lang, shard) group count must exceed the language count
      val docs = spark.read.parquet(s"$tiny/documents.parquet")
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "lang")
      val langs = docs.select("lang").distinct().count()
      val shardGroups = name match {
        case "token_budget" | "mix_temperature" =>
          docs.selectExpr("lang",
            "substring(md5(CAST(doc_id AS STRING)), 1, 2) AS sh")
            .distinct().count()
        case _ =>
          val mx = docs.agg(max("doc_id")).head().getLong(0)
          docs.selectExpr("lang", s"doc_id div ($mx div 256 + 1) AS sh")
            .distinct().count()
      }
      assert(shardGroups > langs,
        s"$name: sharding adds no parallelism ($shardGroups groups vs $langs langs)")
    }
  }

  test("composed curation agrees with the individual signal queries") {
    import graft.text.TextOps
    val quality = TextOps.textQuality(spark, tiny)
      .select(col("doc_id"), col("qualidade"))
    val lang = TextOps.langId(spark, tiny).select(col("doc_id"), col("acerto"))
    val rep = CurationOps.textRepetition(spark, tiny)
      .select(col("doc_id"), col("repetitivo"), col("n_tokens"))
    val keeper = spark.read.parquet(s"$tiny/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "md5(text) AS h", "lang")
      .withColumn("doc_keeper",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    val expected = keeper
      .join(quality, "doc_id").join(lang, "doc_id").join(rep, "doc_id")
      .filter("qualidade = 'boa' AND acerto = 1 AND repetitivo = 0 AND doc_id = doc_keeper")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = CurationOps.corpusCurate(spark, tiny).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("temperature mixing flattens language shares: exact targets, upweights small, downweights dominant") {
    val out = CurationOps.mixTemperature(spark, tiny).cache()
    val orig = Tables.documents(spark, tiny).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val copies = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // recompute the integer-exact targets independently
    val total = orig.values.sum
    val w = orig.map { case (l, n) => l -> math.sqrt(n.toDouble * 1e6).floor.toLong }
    val denom = w.values.sum
    val alvo = w.map { case (l, wl) => l -> total * wl / denom }
    assert(copies == alvo.filter(_._2 >= 1),
      s"copy totals must equal the integer targets: $copies vs $alvo")
    // flattening direction: the dominant language loses share, the
    // smallest gains; upweighted languages genuinely repeat docs
    val dominant = orig.maxBy(_._2)._1
    val smallest = orig.minBy(_._2)._1
    assert(copies(dominant) < orig(dominant), "dominant language must downweight")
    assert(copies(smallest) > orig(smallest), "smallest language must upweight")
    assert(out.filter(col("epoca") === 2).count() > 0,
      "upweighting must produce second-epoch copies")
    out.unpersist()
  }

  test("curriculum stages: exact length banding, all four bands populated, no sort anywhere") {
    val df = CurationOps.curriculumStages(spark, tiny)
    val rows = df.collect()
    val tCorpus = rows.map(_.getInt(1).toLong).sum
    val nDocs = rows.length.toLong
    // every doc's band must match the integer cross-multiplication rule
    rows.foreach { r =>
      val n = r.getInt(1).toLong
      val expected =
        if (100 * n * nDocs < 75 * tCorpus) "curta"
        else if (100 * n * nDocs < 100 * tCorpus) "media_curta"
        else if (100 * n * nDocs < 125 * tCorpus) "media_longa"
        else "longa"
      assert(r.getString(3) === expected, s"doc ${r.getLong(0)}")
    }
    val bands = rows.groupBy(_.getString(3)).map { case (k, v) => k -> v.length }
    assert(bands.keySet === Set("curta", "media_curta", "media_longa", "longa"),
      s"a band is empty on this corpus: $bands")
    // a curriculum needs bands, not a total order — no sort window and no
    // global Sort below the final presentation orderBy
    val hasWindow = allNodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    assert(!hasWindow, "curriculum staging planned a window")
  }

  test("vocab induction: top-V is a broadcast anti-join + distributed top-k, OOV consistent") {
    val df = CurationOps.vocabOov(spark, tiny, 20)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocabulary selection must be a distributed top-k, not a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"OOV counting must anti-join against the broadcast V-row vocab:\n$plan")
    val rows = df.collect()
    // an independent in-JVM recomputation of the same vocabulary rule
    val toks = Tables.documents(spark, tiny)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val freq = toks.values.flatten.groupBy(identity).view.mapValues(_.size)
    val vocab = freq.toSeq.sortBy { case (t, c) => (-c, t) }.take(20).map(_._1).toSet
    rows.foreach { r =>
      val expected = toks(r.getLong(0)).count(t => !vocab.contains(t))
      assert(r.getInt(2) == expected, s"doc ${r.getLong(0)} oov")
    }
  }

  test("luhn validator: reference vectors and the planted candidates check out") {
    import spark.implicits._
    val v = Seq("79927398713", "79927398710", "4532015112830366").toDF("c")
      .selectExpr(s"CASE WHEN ${graft.text.TextExprs.luhnValid("c").spark} THEN 1 ELSE 0 END AS v")
      .collect().map(_.getInt(0)).toSeq
    assert(v == Seq(1, 0, 1), "Luhn reference vectors")
    def luhn(s: String): Boolean = s.reverse.zipWithIndex.map { case (ch, i) =>
      val d = ch - '0'
      if (i % 2 == 0) d else { val x = d * 2; if (x > 9) x - 9 else x }
    }.sum % 10 == 0
    val rows = CurationOps.piiLuhn(spark, tiny).collect()
    rows.foreach { r =>
      assert(r.getInt(1) == 1, s"doc ${r.getLong(0)}: one planted candidate")
      val cand = f"${r.getLong(0) * 7919 % 10000000000000000L}%016d"
      assert((r.getInt(2) == 1) == luhn(cand),
        s"doc ${r.getLong(0)}: validity must come from the checksum alone")
    }
  }

  test("ngram novelty: reference-source docs are never novel; signal non-degenerate") {
    val src = Tables.documents(spark, tiny)
      .selectExpr("CAST(doc_id AS BIGINT) AS id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val refSrc = Set("src0", "src1", "src2", "src3", "src4")
    val rows = CurationOps.ngramNovelty(spark, tiny).collect()
    assert(rows.length == src.size)
    rows.foreach { r =>
      val (tot, novel) = (r.getInt(1), r.getInt(2))
      assert(novel >= 0 && novel <= tot)
      assert(math.abs(r.getDouble(3) - novel.toDouble / tot) < 1e-12)
      if (refSrc(src(r.getLong(0))))
        assert(novel == 0, s"reference doc ${r.getLong(0)} reported novel shingles")
    }
    assert(rows.exists(_.getInt(2) > 0), "no novelty anywhere — degenerate signal")
  }

  test("dsir plan: the B-row ratio table broadcasts; novelty anti-joins on the hash") {
    val sc = CurationOps.dsirScore(spark, tiny)
    sc.collect()
    val plan = sc.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the 256-row ratio table must broadcast into the per-doc sum:\n$plan")
    val nv = CurationOps.ngramNovelty(spark, tiny)
    nv.collect()
    val nvPlan = nv.queryExecution.executedPlan.toString
    assert(nvPlan.contains("LeftAnti"),
      s"novelty must anti-join the reference shingle set:\n$nvPlan")
  }

  test("dsir fixed-budget resample: distributed top-k, no window; prefix of the quartile rank") {
    val df = CurationOps.dsirSelectTopK(spark, tiny, 10)
    val rows = df.collect()
    assert(rows.length == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"fixed-k selection must plan as distributed top-k:\n$plan")
    assert(!allNodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "fixed-k selection must not plan a window")
    // same order rule as the quartile form: its first 10 rows
    val quart = CurationOps.dsirSelect(spark, tiny).collect()
      .sortBy(_.getInt(0)).take(10).map(_.getLong(1)).toSeq
    assert(rows.map(_.getLong(0)).toSeq == quart,
      "fixed-k selection must be a prefix of the ranked quartile")
  }

  test("dsir: importance concentrates on the target distribution; resample keeps the exact top quartile") {
    val langs = Tables.documents(spark, tiny)
      .selectExpr("CAST(doc_id AS BIGINT) AS id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = CurationOps.dsirScore(spark, tiny).collect()
    assert(rows.length == langs.size)
    val (en, rest) = rows.partition(r => langs(r.getLong(0)) == "en")
    def meanNorm(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getLong(3)).sum.toDouble / rs.length
    assert(meanNorm(en) > meanNorm(rest),
      s"target-language docs must outscore the rest: ${meanNorm(en)} vs ${meanNorm(rest)}")
    val sel = CurationOps.dsirSelect(spark, tiny).collect()
    val k = (rows.length + 3) / 4
    assert(sel.length == k, s"top quartile is $k docs")
    val expect = rows.sortBy(r => (-r.getLong(3), r.getLong(0))).take(k)
      .map(_.getLong(0)).toSeq
    assert(sel.sortBy(_.getInt(0)).map(_.getLong(1)).toSeq == expect,
      "selection must be exactly the (norm DESC, doc_id) top quartile")
  }

  test("lm: stupid-backoff bits pinned by hand on a 3-doc corpus (all branches)") {
    import spark.implicits._
    // train slice = doc 0 (0 % 10): "a b a c" → uni a=2,b=1,c=1, N=4;
    // bi (a,b)=1,(b,a)=1,(a,c)=1. fl2: 2→1, 1→0, 4→2.
    val docs = Seq(
      (0L, Seq("a", "b", "a", "c")),
      (1L, Seq("a", "b", "x")), // uni(-1) + bigram(0-1) + OOV-backoff(-2-2-2)
      (3L, Seq("c", "a"))       // uni(0-2) + seen-uni backoff(1-2-2)
    ).toDF("doc_id", "toks")
    val (uni, bi) = CurationOps.lmTrainTables(docs)
    val tot = uni.agg(sum("n_w").cast("long").as("nn"))
    val out = CurationOps.lmDocAgg(CurationOps.lmBitsSelect(
      CurationOps.lmJoined(
        CurationOps.lmTokenTriples(docs.filter($"doc_id" % 10 =!= 0)),
        uni, bi).crossJoin(broadcast(tot)), "nn"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 3, 2L, -8L, 8.0 / 3),
      (3L, 2, 2L, -5L, 2.5)))
  }

  test("lm3: trigram chain pinned by hand — every backoff branch exercised") {
    import spark.implicits._
    // train doc 0: "a b c a b d" → uni a2 b2 c1 d1, N=6 (fl2: 2→1, 6→2);
    // bi ab:2 bc:1 ca:1 bd:1; tri abc:1 bca:1 cab:1 abd:1
    val docs = Seq(
      (0L, Seq("a", "b", "c", "a", "b", "d")),
      // p1 uni(-1,L0) + p2 bi-hit(0,L0) + p3 TRI-hit(-1,L0) + p4 OOV full
      // chain (-2-2-4=-8, L2) → bits -10, retro 2
      (1L, Seq("a", "b", "c", "x")),
      // p1 uni(-2,L0) + p2 bi-miss→uni-2 (1-2-2=-3, L1) + p3 tri-miss→
      // bi-hit-2 (1-1-2=-2, L1) → bits -7, retro 2
      (3L, Seq("d", "a", "b"))
    ).toDF("doc_id", "toks")
    val (uni, bi) = CurationOps.lmTrainTables(docs)
    val tri = CurationOps.lmTriTable(docs)
    val tot = uni.agg(sum("n_w").cast("long").as("nn"))
    import org.apache.spark.sql.functions.{broadcast => bc}
    val j = CurationOps.lmTokenQuads(docs.filter($"doc_id" % 10 =!= 0))
      .join(tri, Seq("w0", "w1", "w2"), "left")
      .join(bi.select($"w1".as("w0"), $"w2".as("w1"), $"n_ab".as("n_ctx")),
        Seq("w0", "w1"), "left")
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select($"w".as("w1"), $"n_w".as("n_b")), Seq("w1"), "left")
      .join(uni.select($"w".as("w2"), $"n_w".as("n_c")), Seq("w2"), "left")
      .crossJoin(bc(tot))
    // re-run the production op's exact CASE by calling the op end to end
    // on a staged tmp table would re-tokenize text; instead pin via the
    // full gated op below and the public pieces here
    val out = CurationOps.lmPerplexity3Parts(j)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 4, 2L, -10L, 2.5),
      (3L, 3, 2L, -7L, 7.0 / 3)))
  }

  test("lm: zero-token docs mint no phantom positions (sequence(1,0) is DESCENDING)") {
    import spark.implicits._
    // without the size guard, sequence(1, size(toks)) on an empty array
    // yields [1, 0] — two phantom rows the oracle's empty range never has
    val docs = Seq((1L, Seq.empty[String]), (2L, Seq("a"))).toDF("doc_id", "toks")
    val out = CurationOps.lmTokenTriples(docs).collect()
    assert(out.length == 1 && out(0).getLong(0) == 2L,
      "the empty doc must contribute zero scored positions")
  }

  test("lm: mean-bits keep rule — integer cross-multiplication, keep set strict subset") {
    val keep = CurationOps.pplKeepDocIds(spark, tiny)
    val n = Tables.documents(spark, tiny).count()
    val k = keep.count()
    assert(k > 0 && k < n, s"keep set must be a strict, non-empty subset ($k of $n)")
    // the composed gate survives: per-language rollup non-empty, and no
    // language gains docs relative to the fluency-gated form's universe
    val out = CurationOps.corpusCuratePpl(spark, tiny).collect()
    assert(out.nonEmpty && out.forall(_.getLong(1) > 0))
  }

  test("lm: gated-scale invariants — train slice excluded, backoff fires, rarity costs bits") {
    val rows = CurationOps.lmPerplexity(spark, tiny).collect()
    val ids = rows.map(_.getLong(0)).toSet
    assert(ids.nonEmpty && !ids.exists(_ % CurationOps.LmTrainMod == 0),
      "trained docs must not be scored")
    // every doc's first token lacks a bigram context → n_retrocessos ≥ 1
    assert(rows.forall(_.getLong(2) >= 1L))
    // the thin train slice must leave genuinely unseen bigrams somewhere
    assert(rows.map(_.getLong(2)).sum > rows.length,
      "backoff must fire beyond the per-doc first token")
    // cross-entropy is positive and bounded by the OOV floor
    val nTrainToks = CurationOps.lmDocs(spark, tiny)
      .filter(col("doc_id") % CurationOps.LmTrainMod === 0)
      .selectExpr("size(toks) AS n").agg(sum("n")).collect()(0).getLong(0)
    val ceil = 4 + (63 - java.lang.Long.numberOfLeadingZeros(nTrainToks))
    assert(rows.forall(r => r.getDouble(4) > 0 && r.getDouble(4) <= ceil),
      s"bits/token must lie in (0, $ceil]")
  }
}
