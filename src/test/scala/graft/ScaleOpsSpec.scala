package graft

import org.apache.spark.sql.functions._
import graft.ops.RelationalOps

/** The round-8 scale-operator trio: bin-blocked range join, salted skew
  * join, count-min sketch. Each query's VALUES are gated against DuckDB by
  * the driver (q_range_join / q_skew_join_salted / q_sketch_countmin);
  * these specs pin what the gate can't see — the PLAN shapes that make the
  * operators survive 100 TB, and the sketch's estimate bounds.
  */
class ScaleOpsSpec extends SparkSpec {

  test("binned range join equals the naive inequality join, without its plan") {
    val binned = RelationalOps.rangeJoinBinned(spark, tiny)
    // the naive formulation: no equi-key, Spark must nested-loop it
    val ev = Tables.events(spark, tiny).select(
      col("event_id").cast("long").as("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
    val wins = ev.filter(col("event_type") === "purchase" && col("value") >= 150)
      .select(col("event_id").as("janela_id"), col("ts_us").as("lo_us"),
        (col("ts_us") + 3600L * 1000000L).as("hi_us"))
    val naive = ev.join(wins,
        ev("ts_us") >= wins("lo_us") && ev("ts_us") < wins("hi_us"))
      .groupBy("janela_id")
      .agg(count(lit(1)).as("n_eventos"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("soma_valor"))
      .orderBy("janela_id")

    assert(binned.collect().toSeq == naive.collect().toSeq)
    val binnedPlan = binned.queryExecution.sparkPlan.toString
    val naivePlan = naive.queryExecution.sparkPlan.toString
    assert(!binnedPlan.contains("NestedLoop") && !binnedPlan.contains("Cartesian"),
      s"binned range join must be an equi-join:\n$binnedPlan")
    assert(naivePlan.contains("NestedLoop") || naivePlan.contains("Cartesian"),
      s"naive form was expected to nested-loop (the point of binning):\n$naivePlan")
  }

  test("salted skew join equals the unsalted join and shuffles on (key, salt)") {
    val salted = RelationalOps.skewJoinSalted(spark, tiny)
    val ev = Tables.events(spark, tiny).select(
      col("event_id").cast("long").as("event_id"),
      col("event_type"), col("value"))
    val dim = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_tipo"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("soma_tipo"))
    val plain = ev.join(dim, Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("n_tipo"), col("soma_tipo"),
        (col("value").cast("decimal(18,2)").cast("double") / col("soma_tipo"))
          .as("fracao"))
      .orderBy("event_id")
    assert(salted.collect().toSeq == plain.collect().toSeq)
    val plan = salted.queryExecution.sparkPlan.toString
    assert("SortMergeJoin \\[event_type#\\d+, salt#\\d+\\]".r
      .findFirstIn(plan).isDefined,
      s"expected a sort-merge join keyed on (event_type, salt):\n$plan")
  }

  test("count-min estimates upper-bound true counts and stay tight at w=64") {
    val rows = RelationalOps.countMinErrorProbe(spark, tiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, e) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_est"))
      assert(e >= t, s"count-min must never underestimate: $r")
      assert(r.getAs[Long]("superestimativa") == e - t)
    }
    // 15 keys across 4×64 cells: at least one key must be collision-free
    // in some row, i.e. exactly estimated
    assert(rows.exists(_.getAs[Long]("superestimativa") == 0L))
  }

  test("AQE twin equals the salted join; skew-split fires at lowered thresholds") {
    // row identity first (AQE or not, the answer is the plain join)
    val aqe = RelationalOps.skewJoinAqe(spark, tiny)
    val salted = RelationalOps.skewJoinSalted(spark, tiny)
    assert(aqe.collect().toSeq == salted.collect().toSeq)
    // plan evidence: with the skew thresholds scaled down to toy data,
    // the executed SortMergeJoin must report skew=true — the optimizer
    // detected the hot event_type partitions and split them, replacing
    // the manual 16-shard salt with a runtime decision
    val cfgs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // sf0.001's whole shuffle is a few KB, so the "skewed" bar has to
      // drop to a few hundred bytes for the rule to see the hot keys
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256b",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val saved = cfgs.map { case (k, _) => k -> spark.conf.getOption(k) }
    // Two scale constraints of the toy environment reproduced away:
    // (a) AQE splits a skewed reducer partition at MAPPER granularity and
    // the single-row-group toy parquet is one mapper (= unsplittable) —
    // write an 8-file copy, the multi-thousand-mapper regime of any real
    // scan; (b) OptimizeSkewedJoin only matches the canonical
    // SMJ(sort+shuffle, sort+shuffle) pattern, so the dim is materialized
    // and read back, as a real dim table would be
    val src = Scratch.tempDir("graft_aqe_skew").toString
    val ev8 = RelationalOps.skewEvents(Tables.events(spark, tiny))
    ev8.repartition(8).write.mode("overwrite").parquet(s"$src/ev")
    RelationalOps.skewDim(ev8).write.mode("overwrite").parquet(s"$src/dim")
    try {
      cfgs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = RelationalOps.skewJoinPlain(
        spark.read.parquet(s"$src/ev"), spark.read.parquet(s"$src/dim"))
      df.collect()
      // API-level: the final adaptive plan's sort-merge join must carry
      // isSkewJoin (the field behind the rendered "skew=true"), asserted
      // on the node itself rather than the version-fragile plan string
      val smjs = allNodes(df.queryExecution.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smjs.nonEmpty && smjs.exists(_.isSkewJoin),
        s"expected an AQE skew-split sort-merge join:\n" +
          df.queryExecution.executedPlan)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(src))
    }
  }

  test("production sketch cells conserve mass and agree with the error probe") {
    val cells = RelationalOps.countMinCells(spark, tiny).collect()
    val nEvents = Tables.events(spark, tiny).count()
    // every hash row partitions the event stream: its cells sum to |events|
    cells.groupBy(_.getAs[Int]("i")).foreach { case (i, cs) =>
      assert(cs.map(_.getAs[Long]("c")).sum == nEvents,
        s"hash row $i loses/duplicates increments")
    }
    // the probe's estimate for each user is exactly min over the
    // PRODUCTION cells it hashes to — the two forms describe one sketch
    val cellMap = cells.map(r =>
      (r.getAs[Int]("i"), r.getAs[Long]("bucket")) -> r.getAs[Long]("c")).toMap
    val p = 1000000007L
    RelationalOps.countMinErrorProbe(spark, tiny).collect().foreach { r =>
      val uid = r.getAs[Long]("user_id")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h1 = java.lang.Long.parseLong(md.substring(0, 15), 16) % p
      val h2 = java.lang.Long.parseLong(md.substring(16, 31), 16) % p
      val est = (0 until 4).map(i => cellMap((i, ((h1 + i * h2) % p) % 64))).min
      assert(est == r.getAs[Long]("n_est"), s"user $uid: $est != ${r.getAs[Long]("n_est")}")
    }
  }
}
