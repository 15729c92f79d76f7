package graft

import org.apache.spark.sql.functions._
import graft.ops.GraphOps
import graft.text.{CurationOps, RetrievalOps}

/** BM25 retrieval, PageRank centrality, grouped HLL, robust outliers —
  * semantic properties the hash gate can't express: ranking monotonicity,
  * served-index equivalence, rank-mass conservation, sketch accuracy,
  * and the 3×MAD flag contract.
  */
class RetrievalGraphSpec extends SparkSpec {

  test("bm25: ranks are contiguous and scores monotone within each query") {
    val out = RetrievalOps.bm25TopK(spark, tiny).collect()
    val byQ = out.groupBy(_.getAs[Int]("query_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getAs[Double]("score")).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "scores must be non-increasing in rank")
      assert(scores.forall(_ > 0.0))
    }
  }

  test("phrase search: overlapping matches count per position, 3-grams need full adjacency") {
    import spark.implicits._
    // "hash join" twice (overlapping context), "window agg stream" once
    // with a decoy missing the last term, one doc with no phrase at all
    val docs = Seq(
      (1L, Seq("hash", "join", "hash", "join")),           // 2 occurrences
      (2L, Seq("hash", "x", "join")),                      // adjacency broken
      (3L, Seq("window", "agg", "stream", "window", "agg")), // 3-gram once
      (4L, Seq("table"))                                   // shorter than phrase
    ).toDF("doc_id", "t")
    val out = RetrievalOps.phraseSearchOver(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1, 1L, 2L), (4, 3L, 1L)),
      s"expected exactly {phrase1@doc1 x2, phrase4@doc3 x1}, got $out")
  }

  test("phrase search: the self-match degenerate — 'a a' over 'a a a' counts 2") {
    import spark.implicits._
    // a phrase whose tokens repeat must still count one match PER START
    // POSITION (positions 1 and 2), not per token pair combination
    val docs = Seq((1L, Seq("sort", "sort", "sort"))).toDF("doc_id", "t")
    val out = RetrievalOps.phraseSearchOver(docs).collect()
    assert(out.isEmpty, "no gated phrase matches this corpus")
    // pin via the real phrase table: "sort merge" over sort,merge,sort,merge
    val docs2 = Seq((7L, Seq("sort", "merge", "sort", "merge"))).toDF("doc_id", "t")
    val out2 = RetrievalOps.phraseSearchOver(docs2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(out2 == Set((3, 7L, 2L)))
  }

  test("phrase search: the served index form is bit-identical, and the probe partition-prunes to the phrase terms' buckets") {
    val a = RetrievalOps.phraseSearch(spark, tiny).collect().toSeq
    val b = RetrievalOps.phraseIndexed(spark, tiny).collect().toSeq
    assert(a == b, "served probe must equal the end-to-end form")
    // the scan must carry the tb partition filter — the serve-cost claim
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_phrase_index_v1_" +
      CurationOps.docsFingerprint(tiny)
    val plan = RetrievalOps.phraseServed(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [tb"),
      s"expected a tb partition filter in the served scan, got:\n$plan")
  }

  test("parameterized probes: derived query set is the deterministic top-4, " +
      "and the served plans partition-prune to the staged terms' buckets") {
    // the query set is DATA: exactly 4 rows, dense frase_ids, and
    // re-derivation is stable (same df-desc/lexicographic tie-break)
    val q1 = RetrievalOps.derivedPhraseQueries(spark, tiny).collect().toSeq
    val q2 = RetrievalOps.derivedPhraseQueries(spark, tiny).collect().toSeq
    assert(q1 == q2, "query derivation must be deterministic")
    assert(q1.map(_.getInt(0)).sorted == Seq(1, 2, 3, 4),
      s"expected dense frase_ids 1..4, got $q1")
    // both param probes carry the tb partition filter — the staged
    // terms' buckets, computed from data, still prune the scan
    for ((name, df) <- Seq(
        "phraseParam" -> RetrievalOps.phraseParam(spark, tiny),
        "nearParam" -> RetrievalOps.nearParam(spark, tiny))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [tb"),
        s"$name: expected a tb partition filter in the served scan, got:\n$plan")
    }
  }

  test("BM25 update keeps the doclens sidecar one-live-length-per-doc") {
    import graft.text.RetrievalOps
    // the update lifecycle's store invariant the oracle can't see: after
    // tombstone → compact → append, doclens must carry exactly ONE row
    // per doc_id, and the updated ids must carry the NEW length (+2
    // appended query terms) — a doc with two doclens rows would make a
    // FUTURE delete subtract both versions' lengths from the stats
    RetrievalOps.bm25Updated(spark, tiny).count(): Unit
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(tiny.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_upd_${h}_p${java.lang.ProcessHandle.current().pid()}"
    val lens = spark.read.parquet(s"$dir/doclens")
    val dupes = lens.groupBy("doc_id").count().filter(col("count") > 1)
    assert(dupes.isEmpty, s"doclens must be one row per doc: " +
      s"${dupes.collect().toSeq}")
    // updated docs' live length = whitespace tokens of text + 2
    val expect = Tables.documents(spark, tiny)
      .filter(col("doc_id") % 7 === 3)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
        """size(split(trim(text), '\\s+')) + 2 AS want""")
    val bad = lens.join(expect, Seq("doc_id"))
      .filter(col("len") =!= col("want"))
    assert(bad.isEmpty, s"updated ids must carry the NEW length: " +
      s"${bad.collect().toSeq}")
    // and the tombstones are gone (compaction cleared them, which is
    // what lets the re-added ids serve)
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "compaction must have cleared the tombstones before the append")
  }

  test("proximity NEAR-k: ordered, exclusive of self, clamped at the slop") {
    import spark.implicits._
    // query 3 = (sort, merge, k=2): pairs must be ORDERED (merge before
    // sort doesn't count), within 2 positions, adjacency included
    val docs = Seq(
      (1L, Seq("sort", "x", "merge")),          // j-i=2 ≤ 2 → 1 pair
      (2L, Seq("sort", "x", "y", "merge")),     // j-i=3 > 2 → 0
      (3L, Seq("merge", "sort")),               // wrong order → 0
      (4L, Seq("sort", "merge", "merge"))       // j-i=1 and 2 → 2 pairs
    ).toDF("doc_id", "t")
    val out = RetrievalOps.proximityOver(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((3, 1L, 1L), (3, 4L, 2L)),
      s"expected {q3@doc1 x1, q3@doc4 x2}, got $out")
  }

  test("proximity NEAR-k: the served index form is bit-identical to end-to-end") {
    val a = RetrievalOps.proximitySearch(spark, tiny).collect().toSeq
    val b = RetrievalOps.proximityIndexed(spark, tiny).collect().toSeq
    assert(a == b, "served NEAR probe must equal the end-to-end form")
  }

  test("bm25: the served index form is bit-identical to end-to-end") {
    val a = RetrievalOps.bm25TopK(spark, tiny).collect().toSeq
    val b = RetrievalOps.bm25Indexed(spark, tiny).collect().toSeq
    assert(a == b)
  }

  test("bm25: engine score matches a from-scratch Scala recompute") {
    // independent recompute (plain Scala, no Spark expressions) of every
    // (query, doc) score for query 1, folded in term order like the engine
    val docs = Tables.documents(spark, tiny)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val nd = docs.size.toDouble
    val sumlen = docs.values.map(_.size).sum.toDouble
    val avgdl = sumlen / nd
    val dfm = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, v) => t -> v.size.toDouble }
    val qterms = RetrievalOps.bmQueries.toMap.apply(1).sorted
    def score(doc: Seq[String]): Double = {
      val len = doc.size.toDouble
      qterms.foldLeft(0.0) { (acc, t) =>
        val tf = doc.count(_ == t).toDouble
        if (tf == 0) acc
        else {
          val idf = (nd - dfm(t) + 0.5) / (dfm(t) + 0.5)
          acc + idf * ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (len / avgdl))))
        }
      }
    }
    val engine = RetrievalOps.bm25TopK(spark, tiny)
      .filter(col("query_id") === 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(engine.nonEmpty)
    engine.foreach { case (id, sc) =>
      assert(math.abs(sc - score(docs(id))) < 1e-12, s"doc $id")
    }
  }

  test("bm25 served plan: the postings scan is pruned to the query terms' buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Scratch.tempDir("bm25_prune_spec").toString
    graft.text.RetrievalOps.buildBm25Index(spark, tiny, dir)
    val df = graft.text.RetrievalOps.bm25Served(spark, dir)
    df.collect() // finalize AQE
    val postScans = allNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("postings")) => f
    }
    assert(postScans.nonEmpty, "expected a postings file scan")
    assert(postScans.forall(_.partitionFilters.nonEmpty),
      "the tb IN (...) filter must prune postings partitions at the scan")
  }

  test("bm25 masked serve still partition-prunes the postings scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the doc-tombstone anti-join must layer on top of the tb IN (...)
    // bucket pruning, never widen the scan back to all term buckets
    val df = RetrievalOps.bm25Deleted(spark, tiny)
    df.collect()
    val postScans = allNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("postings")) => f
    }
    assert(postScans.nonEmpty, "expected a postings file scan")
    assert(postScans.forall(_.partitionFilters.nonEmpty),
      "masked postings scan must keep the query-term bucket PartitionFilters")
  }

  test("bm25 delete: masked serve == compacted serve; store shrinks, tombstones clear") {
    import org.apache.spark.sql.functions.col
    val masked = RetrievalOps.bm25Deleted(spark, tiny).collect()
    val compacted = RetrievalOps.bm25DeletedCompacted(spark, tiny).collect()
    assert(masked === compacted)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(tiny.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val tmp = System.getProperty("java.io.tmpdir")
    assert(new java.io.File(s"$tmp/graft_bm25_del_${h}_p${java.lang.ProcessHandle.current().pid()}/tombstones").exists(),
      "masked run must still carry tombstones")
    assert(!new java.io.File(s"$tmp/graft_bm25_delc_${h}_p${java.lang.ProcessHandle.current().pid()}/tombstones").exists(),
      "compaction must clear the tombstone store")
    // no victim doc may survive physically, in postings or the doc-keyed
    // length sidecar; the aggregated stats row must equal the survivors'
    val delc = s"$tmp/graft_bm25_delc_${h}_p${java.lang.ProcessHandle.current().pid()}"
    assert(spark.read.parquet(s"$delc/postings")
      .filter(col("doc_id") % 7 === 3).count() === 0)
    assert(spark.read.parquet(s"$delc/doclens")
      .filter(col("doc_id") % 7 === 3).count() === 0)
    val st = spark.read.parquet(s"$delc/stats").head()
    val lens = spark.read.parquet(s"$delc/doclens")
    assert(st.getLong(0) === lens.count())
    assert(st.getLong(1) === lens.agg(org.apache.spark.sql.functions.sum("len"))
      .head().getLong(0))
    // and the deletion must actually have changed the answer (globals
    // shift) — otherwise this gate would pass vacuously
    val full = RetrievalOps.bm25TopK(spark, tiny).collect()
    assert(!(masked.toSeq == full.toSeq),
      "deleting 1/7 of the corpus must perturb the top-k")
  }

  test("hybrid rrf: fused score is exactly the reciprocal-rank sum and ordering follows it") {
    val rows = RetrievalOps.hybridRrf(spark, tiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lex = r.getAs[Int]("lex_rank")
      val den = r.getAs[Int]("dense_rank")
      val expect = (if (lex > 0) 1.0 / (60 + lex) else 0.0) +
        (if (den > 0) 1.0 / (60 + den) else 0.0)
      assert(r.getAs[Double]("rrf") == expect)
      assert(lex > 0 || den > 0, "every fused row came from at least one list")
    }
    rows.groupBy(_.getAs[Int]("query_id")).foreach { case (_, qr) =>
      val byRank = qr.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("rrf")).toSeq
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bm25 scoring: monotone in tf, anti-monotone in df and len") {
    // the engine's formula is pinned to this Scala form by the
    // from-scratch recompute test above, so formula-level properties
    // transfer to the engine
    def score(tf: Double, df: Double, len: Double, nd: Double, avgdl: Double): Double = {
      val idf = (nd - df + 0.5) / (df + 0.5)
      idf * ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (len / avgdl))))
    }
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val nd = 10 + rnd.nextInt(10000)
      val df = 1 + rnd.nextInt(nd)
      val len = 1 + rnd.nextInt(500)
      val avgdl = 1.0 + rnd.nextDouble() * 500
      val tf = 1 + rnd.nextInt(50)
      val s0 = score(tf, df, len, nd, avgdl)
      assert(score(tf + 1, df, len, nd, avgdl) > s0, "tf must raise the score")
      if (df + 1 <= nd)
        assert(score(tf, df + 1, len, nd, avgdl) < s0, "df must lower the score")
      assert(score(tf, df, len + 1, nd, avgdl) < s0, "length must be penalized")
    }
  }

  test("cdc apply: state is invariant under any regrouping of the changelog into batches") {
    val log = graft.etl.Cdc.changelog(spark, tiny)
    val expect = graft.etl.Cdc.cdcApply(spark, tiny).collect().toSeq
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val dir = Scratch.tempDir(s"cdc_prop_$trial").toString
      // random 3-way split by key hash — batches interleave I/U/D
      // arbitrarily; only seq order semantics may matter, and resolution
      // is by seq, not arrival
      val salt = rnd.nextInt(1000)
      (0 until 3).foreach { b =>
        val part = log.filter(abs(hash(col("o_orderkey") + salt)) % 3 === b)
        graft.etl.Cdc.cdcApplyBatch(spark, dir, part, b.toLong)
      }
      assert(graft.etl.Cdc.cdcReadState(spark, dir).collect().toSeq == expect,
        s"trial $trial (salt $salt) diverged from the one-shot apply")
    }
  }

  test("pagerank: rank mass is conserved and every node is reachable-positive") {
    val r = GraphOps.pagerank(spark, tiny).collect()
    assert(r.nonEmpty)
    val total = r.map(_.getAs[Double]("r")).sum
    assert(math.abs(total - 1.0) < 1e-9, s"mass $total")
    assert(r.forall(_.getAs[Double]("r") > 0.0))
  }

  test("personalized pagerank: mass conserved; zero-restart sinks rank below uniform form") {
    val pers = graft.ops.GraphOps.pagerankPersonalized(spark, tiny).collect()
      .map(r => r.getAs[Int]("node") -> r.getAs[Double]("r")).toMap
    assert(math.abs(pers.values.sum - 1.0) < 1e-9)
    // the restart vector concentrates mass on purchase pages: total rank
    // on pages WITH purchases must exceed their share under the uniform
    // form (teleport feeds them directly)
    val buys = Tables.events(spark, tiny)
      .filter(col("event_type") === "purchase")
      .selectExpr("CAST(get_json_object(props, '$.k') AS INT) AS node")
      .distinct().collect().map(_.getAs[Int]("node")).toSet
    val unif = graft.ops.GraphOps.pagerank(spark, tiny).collect()
      .map(r => r.getAs[Int]("node") -> r.getAs[Double]("r")).toMap
    val persBuyMass = pers.filter(kv => buys(kv._1)).values.sum
    val unifBuyMass = unif.filter(kv => buys(kv._1)).values.sum
    assert(persBuyMass >= unifBuyMass,
      s"purchase pages hold $persBuyMass personalized vs $unifBuyMass uniform")
  }

  test("pagerank: determinism — two runs produce identical doubles") {
    val a = GraphOps.pagerank(spark, tiny).collect().toSeq
    val b = GraphOps.pagerank(spark, tiny).collect().toSeq
    assert(a == b)
  }

  test("grouped hll: per-day estimate tracks the exact distinct-user count") {
    val regs = GraphOps.hllGroupedDaily(spark, tiny).collect()
      .groupBy(_.getAs[String]("dia"))
      .map { case (d, rows) =>
        d -> rows.map(r => r.getAs[Int]("balde") -> r.getAs[Int]("registro")).toMap
      }
    val exact = Tables.events(spark, tiny)
      .selectExpr("CAST(CAST(ts AS DATE) AS STRING) AS dia", "user_id")
      .groupBy("dia").agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getAs[String]("dia") -> r.getAs[Long]("n")).toMap
    assert(regs.keySet == exact.keySet)
    regs.foreach { case (d, m) =>
      val est = CurationOps.hllEstimateOf(m)
      val n = exact(d).toDouble
      assert(math.abs(est - n) / n < 0.25, s"day $d est=$est exact=$n")
    }
  }

  test("bm25 store: batch replays are skipped and the served result matches one-shot") {
    val dir = Scratch.tempDir("bm25_store_spec").toString
    val docs = Tables.documents(spark, tiny)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text")
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    graft.text.RetrievalOps.bm25ApplyBatch(spark, dir, b0, 0L)
    graft.text.RetrievalOps.bm25ApplyBatch(spark, dir, b1, 1L)
    val served = graft.text.RetrievalOps.bm25ReadState(spark, dir).collect().toSeq
    // at-least-once delivery: replaying BOTH batches must change nothing
    graft.text.RetrievalOps.bm25ApplyBatch(spark, dir, b0, 0L)
    graft.text.RetrievalOps.bm25ApplyBatch(spark, dir, b1, 1L)
    val replayed = graft.text.RetrievalOps.bm25ReadState(spark, dir).collect().toSeq
    assert(served == replayed)
    val oneShot = graft.text.RetrievalOps.bm25TopK(spark, tiny).collect().toSeq
    assert(served == oneShot)
  }

  test("bm25 store compaction: bounded files, served result bit-identical, appends continue") {
    val dir = Scratch.tempDir("bm25_compact_spec").toString
    val docs = Tables.documents(spark, tiny)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text")
    graft.text.RetrievalOps.bm25ApplyBatch(spark, dir, docs.filter(col("doc_id") % 3 === 0), 0L)
    graft.text.RetrievalOps.bm25ApplyBatch(spark, dir, docs.filter(col("doc_id") % 3 === 1), 1L)
    val before = graft.text.RetrievalOps.bm25ReadState(spark, dir).collect().toSeq
    graft.text.RetrievalOps.bm25CompactStore(spark, dir, nFiles = 2)
    val (cd, _) = graft.etl.StoreCommit.committed(dir).get
    val files = new java.io.File(s"$dir/$cd/postings").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 2, s"expected ≤2 postings files after compaction, got $files")
    assert(graft.text.RetrievalOps.bm25ReadState(spark, dir).collect().toSeq == before)
    // the store must keep accepting appends after compaction
    graft.text.RetrievalOps.bm25ApplyBatch(spark, dir, docs.filter(col("doc_id") % 3 === 2), 2L)
    val full = graft.text.RetrievalOps.bm25ReadState(spark, dir).collect().toSeq
    assert(full == graft.text.RetrievalOps.bm25TopK(spark, tiny).collect().toSeq)
  }

  test("grouped hll: range merge equals registers over the filtered events") {
    val merged = graft.ops.GraphOps.hllRangeMerge(spark, tiny).collect()
      .map(r => r.getAs[Int]("balde") -> r.getAs[Int]("registro")).toMap
    val regs = graft.ops.GraphOps.hllGroupedDaily(spark, tiny).collect()
    val cut = regs.map(_.getAs[String]("dia")).min
    val cutDate = java.time.LocalDate.parse(cut).plusDays(6).toString
    val expect = regs.filter(_.getAs[String]("dia") <= cutDate)
      .groupBy(_.getAs[Int]("balde"))
      .map { case (b, rows) => b -> rows.map(_.getAs[Int]("registro")).max }
    assert(merged == expect)
  }

  test("path mining: 3-gram mass accounting and top-20 contract") {
    val rows = graft.ops.GraphOps.pathMining(spark, tiny).collect()
    assert(rows.length <= 20)
    val counts = rows.map(_.getAs[Long]("n")).toSeq
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // total 3-gram mass across ALL paths = Σ_users max(0, n_events − 2);
    // the top-20 can't exceed it
    val perUser = Tables.events(spark, tiny).groupBy("user_id").count()
      .collect().map(r => math.max(0L, r.getAs[Long]("count") - 2)).sum
    assert(counts.sum <= perUser)
    assert(rows.forall(_.getAs[String]("caminho").split(">").length == 3))
  }

  test("engagement prior: page aggregates broadcast onto the corpus") {
    val df = graft.ops.GraphOps.engagementPrior(spark, tiny)
    val rows = df.collect()
    val exact = Tables.events(spark, tiny)
      .filter(col("event_type") === "purchase")
      .selectExpr("CAST(get_json_object(props, '$.k') AS INT) AS pagina")
      .groupBy("pagina").count().collect()
      .map(r => r.getAs[Int]("pagina") -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_compras") ==
        exact.getOrElse(r.getAs[Int]("pagina"), 0L))
    }
    // the corpus side must NOT shuffle: the page aggregate broadcasts
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    df.collect() // materialize to finalize AQE
    val plan = df.queryExecution.executedPlan
    assert(allNodes(plan).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "expected a broadcast hash join for the page-evidence join")
  }

  test("quality outliers: the 3×MAD flag contract holds row by row") {
    val rows = CurationOps.qualityOutliers(spark, tiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val adev = r.getAs[Double]("adev")
      val mad = r.getAs[Double]("mad")
      val flag = r.getAs[Int]("atipico")
      assert((adev > 3.0 * mad) == (flag == 1))
      // medians over integers land on exact halves
      assert(r.getAs[Double]("med") * 2 == math.rint(r.getAs[Double]("med") * 2))
    }
  }

  test("WAND-pruned serve: ranking identical, strictly fewer postings scored") {
    // answer-invisibility: the MaxScore pruning must reproduce the
    // exhaustive ranking bit-for-bit (same scores, same tie-breaks)
    val wand = RetrievalOps.bm25Wand(spark, tiny).collect().toSeq
    val full = RetrievalOps.bm25TopK(spark, tiny).collect().toSeq
    assert(wand == full, "pruning must be answer-invisible")
    // and it must actually prune: per-(query, doc, term) score
    // evaluations — champion pass + candidate-restricted full pass —
    // strictly under the exhaustive count on the gated query set
    val (exhaustive, pruned) = RetrievalOps.bm25WandCounts(spark, tiny)
    assert(pruned < exhaustive,
      s"wand scored $pruned postings vs exhaustive $exhaustive — " +
        "the pruned serve must score strictly fewer")
    assert(pruned > 0 && exhaustive > 0, "counts must be exercised")
  }

  test("Zipf regime: WAND bit-equal and pruning is DRAMATIC, not marginal") {
    // the generated power-law corpus + stopword/rare-term queries are
    // the workload pruning exists for: the rare term's θ̂ towers over
    // the common term's upper bound, so nearly all of the common
    // term's postings skip scoring
    val wand = RetrievalOps.bm25ZipfWand(spark, tiny).collect().toSeq
    val full = RetrievalOps.bm25Zipf(spark, tiny).collect().toSeq
    assert(wand == full, "zipf pruning must be answer-invisible")
    assert(full.nonEmpty, "the generated corpus must actually serve")
    // count the evaluations on the gate-scale corpus: the near-stopword
    // terms' postings must be overwhelmingly pruned, not marginally
    val (exhaustive, pruned) = RetrievalOps.bm25ZipfGateCounts(spark)
    assert(pruned * 5 < exhaustive,
      s"zipf wand scored $pruned of $exhaustive postings — expected a " +
        "dramatic (>5×) saving in the regime built to reward pruning")
  }

  test("WAND over a tombstoned store: masked serve bit-equal, still prunes") {
    // the pruned path no longer requires compaction: adjusted upper
    // bounds (stored ub × exact idf ratio × max(1, avgdl'/avgdl)) keep
    // pruning answer-invisible over the masked postings
    val wand = RetrievalOps.bm25WandDeleted(spark, tiny).collect().toSeq
    val full = RetrievalOps.bm25Deleted(spark, tiny).collect().toSeq
    assert(wand == full,
      "masked pruning must reproduce the masked exhaustive serve bit-for-bit")
    // and the adjusted bounds must still actually prune on this corpus
    val (exhaustive, pruned) = RetrievalOps.bm25WandDeletedCounts(spark, tiny)
    assert(pruned < exhaustive,
      s"masked wand scored $pruned vs exhaustive $exhaustive — " +
        "adjusted-bound pruning must still save evaluations")
  }
}
