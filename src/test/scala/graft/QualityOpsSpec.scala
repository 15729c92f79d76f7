package graft

import org.apache.spark.sql.functions._
import graft.ops.QualityOps

/** The data-quality / resample / graph-census / entity-match /
  * weighted-sample family at sf0.001: semantic invariants the DuckDB
  * hash gate can't express (cross-form agreement, monotonicities,
  * grid density), plus plan-shape checks for the scale devices.
  */
class QualityOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dqChecks: every rule rows present, FK+PK rules pass on generated data") {
    val out = QualityOps.dqChecks(spark, tiny).collect()
    val byRule = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byRule.keySet === Set(
      "orders.pk_unique", "orders.status_domain", "orders.totalprice_positive",
      "orders.fk_customer", "lineitem.quantity_range",
      "lineitem.discount_le_8pct", "lineitem.fk_orders"))
    // structural rules hold on the generated star
    for (r <- Seq("orders.pk_unique", "orders.fk_customer", "lineitem.fk_orders"))
      assert(byRule(r)._3, s"$r should pass")
    // the deliberately tight range rule fires (discounts reach 0.10)
    assert(byRule("lineitem.discount_le_8pct")._2 > 0)
    // passed is derived, never out of sync with the count
    out.foreach(r => assert(r.getBoolean(3) === (r.getLong(2) == 0L)))
    // checked = full table cardinality
    assert(byRule("orders.pk_unique")._1 ===
      Tables.orders(spark, tiny).count())
  }

  test("dqChecks plan: one CHILD scan per table; parent sides key-only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = QualityOps.dqChecks(spark, tiny).queryExecution.executedPlan
    val scans = allNodes(plan).collect {
      case f: FileSourceScanExec =>
        (f.relation.location.rootPaths.head.getName, f.output.map(_.name))
    }
    // each table is scanned ONCE as a rule child; orders appears a
    // second time as lineitem's FK parent, and that scan must be
    // column-pruned to the join key alone (like customer's parent scan)
    assert(scans.map(_._1).sorted === Seq("customer.parquet",
      "lineitem.parquet", "orders.parquet", "orders.parquet"),
      s"unexpected scan set: $scans")
    val parentScans = scans.filter { case (t, cols) =>
      (t == "orders.parquet" && cols == Seq("o_orderkey")) ||
        (t == "customer.parquet" && cols == Seq("c_custkey"))
    }
    assert(parentScans.map(_._1).sorted ===
      Seq("customer.parquet", "orders.parquet"),
      s"parent-side scans not pruned to the key: $scans")
  }

  test("dqEvents: row-local rules, 'error' events counted as violations") {
    val out = QualityOps.dqEvents(spark, tiny).collect()
    val byRule = out.map(r => r.getString(0) -> r.getLong(2)).toMap
    val errors = Tables.events(spark, tiny)
      .filter(col("event_type") === "error").count()
    assert(errors > 0, "generated data should contain error events")
    assert(byRule("events.type_no_error") === errors)
    assert(byRule("events.props_key_domain") === 0L)
  }

  test("dqEvents: partial counts are additive across any row split") {
    val ev = Tables.events(spark, tiny)
    val whole = QualityOps.dqEvents(spark, tiny)
      .select("rule", "checked", "violations").as[(String, Long, Long)]
      .collect().map { case (k, v, w) => k -> (v, w) }.toMap
    val a = graft.ops.QualityOps.dqEventsPartial(ev.filter(col("event_id") % 3 === 0))
    val b = graft.ops.QualityOps.dqEventsPartial(ev.filter(col("event_id") % 3 =!= 0))
    val merged = a.unionByName(b).groupBy("rule")
      .agg(sum("checked").as("c"), sum("violations").as("v"))
      .as[(String, Long, Long)].collect()
      .map { case (k, c, v) => k -> (c, v) }.toMap
    assert(merged === whole)
  }

  test("timeGapfill: dense per-user hourly grid, forward fill total") {
    val out = QualityOps.timeGapfill(spark, tiny).cache()
    // no hour on the grid lacks a carried value (first grid hour is an
    // observation by construction)
    assert(out.filter(col("valor").isNull).count() === 0)
    // grid density: rows per user == span hours + 1, exactly
    val spans = Tables.events(spark, tiny)
      .groupBy("user_id")
      .agg(((unix_timestamp(date_trunc("hour", max("ts"))) -
        unix_timestamp(date_trunc("hour", min("ts")))) / 3600 + 1)
        .cast("long").as("expected"))
    val actual = out.groupBy("user_id").agg(count(lit(1)).as("got"))
    assert(spans.join(actual, "user_id")
      .filter(col("expected") =!= col("got")).count() === 0)
    // observed hours carry their own (latest in-hour) value verbatim
    val observed = out.filter(col("observado"))
    val direct = Tables.events(spark, tiny)
      .withColumn("hora", date_trunc("hour", col("ts")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "hora")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("hora"), col("value").as("direto"))
    assert(observed.join(direct, Seq("user_id", "hora"))
      .filter(col("valor") =!= col("direto")).count() === 0)
    out.unpersist(): Unit
  }

  test("triangleCount: oriented census equals the naive a<b triple join") {
    val row = QualityOps.triangleCount(spark, tiny).collect().head
    val (edges, wedges, tris) = (row.getLong(0), row.getLong(1), row.getLong(2))
    // rebuild the canonical edge set and count naively
    val ev = Tables.events(spark, tiny).selectExpr("user_id", "ts", "event_id",
      "CAST(get_json_object(props, '$.k') AS INT) AS page")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val e = ev.withColumn("dst", lead("page", 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("page"))
      .select(least(col("page"), col("dst")).as("a"),
        greatest(col("page"), col("dst")).as("b")).distinct().cache()
    assert(e.count() === edges)
    val naive = e.as("e1")
      .join(e.as("e2"), col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .join(e.as("e3"), col("e3.a") === col("e1.b") && col("e3.b") === col("e2.b"))
      .count()
    assert(naive === tris)
    assert(wedges >= tris * 3, "every triangle contributes 3 wedges")
    assert(row.getDouble(3) === 3.0 * tris.toDouble / wedges.toDouble)
    e.unpersist(): Unit
  }

  test("triangleCensus: random graphs match the local reference count") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 6) {
      val nNodes = 4 + rnd.nextInt(8)
      val edges = (for {
        a <- 0 until nNodes; b <- (a + 1) until nNodes
        if rnd.nextDouble() < 0.45
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val adj = edges.toSet
        val localTris = (for {
          x <- 0 until nNodes; y <- (x + 1) until nNodes; z <- (y + 1) until nNodes
          if adj((x, y)) && adj((x, z)) && adj((y, z))
        } yield 1).size.toLong
        val localWedges = (0 until nNodes).map { v =>
          val d = edges.count(e => e._1 == v || e._2 == v).toLong
          d * (d - 1) / 2
        }.sum
        val row = QualityOps.triangleCensus(
          edges.toDF("a", "b")).collect().head
        assert(row.getLong(0) === edges.size.toLong)
        assert(row.getLong(1) === localWedges)
        assert(row.getLong(2) === localTris,
          s"oriented census diverged on edges=$edges")
      }
    }
  }

  test("dqEvents: additivity holds under a random modulus split") {
    val rnd = new scala.util.Random(7)
    val ev = Tables.events(spark, tiny)
    val whole = QualityOps.dqEvents(spark, tiny)
      .select("rule", "checked", "violations").as[(String, Long, Long)]
      .collect().map { case (k, c, v) => k -> (c, v) }.toMap
    val m = 2 + rnd.nextInt(5)
    val merged = (0 until m).map(i =>
        graft.ops.QualityOps.dqEventsPartial(ev.filter(col("event_id") % m === i)))
      .reduce(_ unionByName _)
      .groupBy("rule").agg(sum("checked").as("c"), sum("violations").as("v"))
      .as[(String, Long, Long)].collect()
      .map { case (k, c, v) => k -> (c, v) }.toMap
    assert(merged === whole, s"split modulus $m broke additivity")
  }

  test("bpeMerges: matches an independent scan-loop reference") {
    // local greedy left-to-right BPE at word granularity — a different
    // implementation shape (sequential scan) than the windowed form
    val docsRaw = Tables.documents(spark, tiny)
      .orderBy("doc_id").select("text").as[String].collect()
      .map(_.trim.toLowerCase.split("\\s+").toVector)
    var docs = docsRaw
    val want = (1 to 5).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      docs.foreach(d => d.zip(d.tail).foreach(p =>
        counts(p) = counts.getOrElse(p, 0L) + 1))
      val ((x, y), n) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      docs = docs.map { d =>
        val out = Vector.newBuilder[String]; var i = 0
        while (i < d.length) {
          if (i + 1 < d.length && d(i) == x && d(i + 1) == y) {
            out += d(i) + "\u0001" + d(i + 1); i += 2
          } else { out += d(i); i += 1 }
        }
        out.result()
      }
      (r, x, y, n)
    }
    val got = QualityOps.bpeMerges(spark, tiny)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === want,
      "windowed greedy merge must equal the sequential scan loop")
  }

  test("fuzzyMatch: pairs canonical, distance bounded, block-consistent") {
    val out = QualityOps.fuzzyMatch(spark, tiny)
      .as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    out.foreach { case (a, b, dv) =>
      assert(a < b); assert(dv >= 1 && dv <= 2)
    }
    // every emitted pair really is in the same nation block
    val nation = Tables.customer(spark, tiny)
      .select(col("c_custkey").cast("long"), col("c_nationkey").cast("int"))
      .as[(Long, Int)].collect().toMap
    out.foreach { case (a, b, _) => assert(nation(a) === nation(b)) }
  }

  test("fuzzyMatchEdJoin: prefix-filtered pairs == block-quadratic pairs") {
    val a = QualityOps.fuzzyMatch(spark, tiny)
      .as[(Long, Long, Int)].collect().toSeq
    val b = QualityOps.fuzzyMatchEdJoin(spark, tiny)
      .as[(Long, Long, Int)].collect().toSeq
    assert(a === b, "the two algorithms must produce the identical pair set")
  }

  test("fuzzyMatchDeleteNbr: deletion-neighborhood pairs == block-quadratic pairs") {
    val a = QualityOps.fuzzyMatch(spark, tiny)
      .as[(Long, Long, Int)].collect().toSeq
    val b = QualityOps.fuzzyMatchDeleteNbr(spark, tiny)
      .as[(Long, Long, Int)].collect().toSeq
    assert(a === b, "the two algorithms must produce the identical pair set")
  }

  test("fuzzyMatchDeleteNbr: ins/del/sub near-dups all survive the variant filter") {
    // hand-built block exercising every edit kind at τ ≤ 2, plus a
    // distance-3 decoy that a D2-variant collision could admit (ed ≤ 4)
    // but the DP must reject
    val rows = Seq(
      (1L, "Customer#000001234", 7), // base
      (2L, "Customer#000001235", 7), // 1 substitution
      (3L, "Customer#00001234", 7),  // 1 deletion
      (4L, "Customer#0000012345", 7),// 1 insertion
      (5L, "Customer#000001299", 7), // 2 substitutions
      (6L, "Customer#000001567", 7), // 3 substitutions — must NOT pair with 1
      (7L, "Customer#000001234", 8)) // identical but other block — no pair
    import spark.implicits._
    val dir = Scratch.tempDir("graft_fz").toString
    rows.toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = QualityOps.fuzzyMatchDeleteNbr(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    val want = QualityOps.fuzzyMatch(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got === want)
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((1L, 4L)) && pairs.contains((1L, 5L)))
    assert(!pairs.contains((1L, 6L)), "distance-3 decoy must be DP-rejected")
    assert(!got.exists(t => t._1 == 7L || t._2 == 7L),
      "cross-block identical name must not pair")
  }

  test("weightedSample: deterministic, size-k, priority-sorted, weight-biased") {
    val s1 = QualityOps.weightedSample(spark, tiny)
      .as[(Long, Long, Double)].collect()
    val s2 = QualityOps.weightedSample(spark, tiny)
      .as[(Long, Long, Double)].collect()
    assert(s1.toSeq === s2.toSeq, "hash priority must be run-stable")
    assert(s1.length === 100)
    assert(s1.map(_._3).toSeq === s1.map(_._3).sorted.toSeq)
    // weighting bias: sampled docs skew longer than the corpus mean
    val corpusMean = Tables.documents(spark, tiny)
      .agg(avg("n_chars")).head.getDouble(0)
    val sampleMean = s1.map(_._2.toDouble).sum / s1.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("tableDiff: all three change classes present, classification exact") {
    val out = QualityOps.tableDiff(spark, tiny).cache()
    val classes = out.select("change").distinct()
      .as[String].collect().toSet
    assert(classes === Set("added", "removed", "changed"))
    // added rows have no old side; removed rows no new side
    assert(out.filter(col("change") === "added")
      .filter(col("status_old").isNotNull || col("price_old").isNotNull)
      .count() === 0)
    assert(out.filter(col("change") === "removed")
      .filter(col("status_new").isNotNull || col("price_new").isNotNull)
      .count() === 0)
    // changed rows really differ, and only on the restated keys (÷7)
    val changed = out.filter(col("change") === "changed")
    assert(changed.filter(col("price_old") === col("price_new")).count() === 0)
    assert(changed.filter(col("o_orderkey") % 7 =!= 0).count() === 0)
    // class membership follows the construction arithmetic exactly
    assert(out.filter(col("change") === "added")
      .filter(col("o_orderkey") % 10 =!= 0).count() === 0)
    assert(out.filter(col("change") === "removed")
      .filter(col("o_orderkey") % 1000 =!= 1).count() === 0)
    out.unpersist(): Unit
  }

  test("diffApplyRoundtrip: applying the diff reconstructs the new snapshot") {
    val applied = QualityOps.diffApplyRoundtrip(spark, tiny)
    val (_, neu) = QualityOps.snapshots(spark, tiny)
    val want = neu.select(col("k").as("o_orderkey"), col("status"), col("price"))
    assert(applied.exceptAll(want).count() === 0 &&
      want.exceptAll(applied).count() === 0)
  }

  test("phrasePmi: scores are the exact rational, ranking monotone in it") {
    val out = QualityOps.phrasePmi(spark, tiny)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(out.nonEmpty && out.length <= 50)
    out.foreach { case (_, _, nab, na, nb, score) =>
      assert(nab >= 5)
      assert(nab <= na && nab <= nb,
        "a bigram can't outnumber either unigram")
      assert(score > 0)
    }
    // descending by score with (w1, w2) tiebreak
    val scores = out.map(_._6).toSeq
    assert(scores === scores.sorted(Ordering[Double].reverse))
  }

  test("phrasePmi: doc-complete split counts merge to the one-shot counts") {
    val docs = Tables.documents(spark, tiny).select("doc_id", "text")
    val (u, b) = QualityOps.pmiCounts(docs)
    val (u1, b1) = QualityOps.pmiCounts(docs.filter(col("doc_id") % 2 === 0))
    val (u2, b2) = QualityOps.pmiCounts(docs.filter(col("doc_id") % 2 === 1))
    val mergedUni = u1.unionByName(u2).groupBy("w").agg(sum("n_w").as("n_w"))
    val mergedBi = b1.unionByName(b2).groupBy("w1", "w2")
      .agg(sum("n_ab").as("n_ab"))
    assert(mergedUni.exceptAll(u).count() === 0 &&
      u.exceptAll(mergedUni).count() === 0)
    assert(mergedBi.exceptAll(b).count() === 0 &&
      b.exceptAll(mergedBi).count() === 0)
  }

  test("weightedSample: per-slice top-k merge recovers the global top-k") {
    val docs = Tables.documents(spark, tiny).select("doc_id", "n_chars")
    val whole = QualityOps.wsTopK(QualityOps.wsPriorities(docs))
      .as[(Long, Long, Double)].collect().toSeq
    val a = QualityOps.wsTopK(
      QualityOps.wsPriorities(docs.filter(col("doc_id") % 2 === 0)))
    val b = QualityOps.wsTopK(
      QualityOps.wsPriorities(docs.filter(col("doc_id") % 2 === 1)))
    val merged = QualityOps.wsTopK(a.unionByName(b))
      .as[(Long, Long, Double)].collect().toSeq
    assert(merged === whole)
  }

  test("weightedSample plan: top-k runs as TakeOrderedAndProject, no global sort") {
    val plan = QualityOps.weightedSample(spark, tiny)
      .queryExecution.executedPlan
    assert(allNodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]))
  }
}
