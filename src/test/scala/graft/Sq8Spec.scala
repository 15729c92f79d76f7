package graft

import org.apache.spark.sql.functions._
import graft.sim.{EmbeddingOps, RecallBench}

/** SQ8 scalar quantization — the properties the exactness gates
  * structurally cannot see:
  *
  *  1. the reconstruction error bound: bin-center decoding of an 8-bit
  *     uniform code is within half a bin width of the original value on
  *     EVERY coordinate of EVERY vector (the v = max edge lands exactly
  *     half a bin above the range, so the bound is tight, not slack);
  *  2. the quality claim that justifies the family: at 8 bits per
  *     dimension, compressed-domain ranking alone (no refine stage)
  *     recalls nearly all exact-L2 neighbors — the property that
  *     distinguishes SQ8 from PQ on this corpus.
  */
class Sq8Spec extends SparkSpec {

  test("bin-center reconstruction is within half a bin of every coordinate") {
    val mm = EmbeddingOps.sq8MinMax(spark, tiny).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val codes = EmbeddingOps.sq8Codes(spark, tiny).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(',').map(_.toInt)).toMap
    val raw = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(codes.keySet == raw.keySet, "every vector must be encoded")
    var worst = 0.0
    for ((id, v) <- raw; i <- v.indices) {
      val (mn, mx) = mm(i)
      val c = codes(id)(i)
      assert(c >= 0 && c <= 255, s"code out of byte range: vec $id dim $i = $c")
      val w = (mx - mn) / 255.0
      val recon = mn + (c + 0.5) * w
      val err = math.abs(recon - v(i).toDouble)
      worst = math.max(worst, err)
      assert(err <= w / 2.0 + 1e-12,
        s"vec $id dim $i: |recon - v| = $err exceeds half a bin ${w / 2.0}")
    }
    assert(worst > 0.0, "the bound must be exercised, not vacuous")
  }

  test("fused sq8_adist kernel equals materialized recon + L2 fold exactly") {
    import spark.implicits._
    // the probe paths ship the fused kernel; the oracle verifies the
    // composed recon+l2 SQL — this pins the two IDENTICAL at the IEEE
    // level on a hand case exercising both clamped boundaries
    val q = Array(1.0f, 2.5f, -0.5f)
    val c = Array(0, 255, 128)
    val mn = Array(0.25, -1.0, -2.0)
    val mx = Array(2.0, 3.0, 1.5)
    val fused = Seq((q.toSeq, c.toSeq, mn.toSeq, mx.toSeq))
      .toDF("q", "c", "mn", "mx")
      .select(graft.functions.GraftFunctions.sq8_adist(
        col("q"), col("c"), col("mn"), col("mx"), 255).as("d"))
      .head.getDouble(0)
    var aa = 0.0; var ab = 0.0; var bb = 0.0
    for (i <- 0 until 3) {
      val x = q(i).toDouble
      val y = mn(i) + (c(i).toDouble + 0.5) * (mx(i) - mn(i)) / 255.0
      aa += x * x; ab += x * y; bb += y * y
    }
    val expected = aa - 2.0 * ab + bb
    assert(fused == expected, s"fused=$fused expected=$expected (must be ==, not ~=)")
  }

  test("arrivals outside the trained range clamp to the code boundaries") {
    import spark.implicits._
    val dim = 64
    def vec(x: Float) = Array.fill(dim)(x).toSeq
    // train on [1, 2] per dim, then append arrivals at 0 (below min —
    // would floor to a NEGATIVE code without the lower clamp) and 9
    // (above max — clamps to 255): the incremental paths encode under
    // the STORED training, so out-of-range coordinates are their normal
    // operating condition, not an edge case
    val train = Seq((0L, vec(1.0f)), (1L, vec(2.0f)))
      .toDF("vec_id", "embedding")
    val dir = Scratch.tempDir("graft_sq8_clamp").toString
    EmbeddingOps.buildSq8IndexOn(spark, train, train, dir)
    val arrivals = Seq((2L, vec(0.0f)), (3L, vec(9.0f)))
      .toDF("vec_id", "embedding")
    EmbeddingOps.appendSq8Index(spark, arrivals, dir, batchId = 0L)
    val got = spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id") >= 2L)
      .select(col("vec_id"), explode(col("codes")).as("c")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    assert(got(2L) == Set(0), s"below-min arrival must clamp to 0, got ${got(2L)}")
    assert(got(3L) == Set(255), s"above-max arrival must clamp to 255, got ${got(3L)}")
  }

  test("IVF-SQ8 indexed serve prunes the code scan to the routed cells") {
    val dir = Scratch.tempDir("graft_sq8_plan").toString
    EmbeddingOps.buildIvfSq8Index(spark, tiny, dir)
    val served = EmbeddingOps.annIvfSq8Indexed(spark, tiny, dir)
    served.count(): Unit
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"codes scan must carry PartitionFilters from the probed-cell isin:\n$plan")
    // and the served answer equals the self-contained composed probe
    val a = served.collect().toSeq
    val b = EmbeddingOps.annIvfSq8(spark, tiny).collect().toSeq
    assert(a == b, "persisted serve must be bit-identical to the probe")
  }

  test("compressed-domain SQ8 ranking recalls >= 0.9 of exact-L2 neighbors") {
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val truth = RecallBench.bruteL2Over(spark, base)
    val served = EmbeddingOps.annSq8(spark, tiny)
    val r = RecallBench.recall(truth, served)
    assert(r >= 0.9, s"SQ8 without refine must stay near-exact vs L2 truth, " +
      s"got recall@5 = $r")
  }

  test("clamp monitor: silent in distribution, fires on a shifted batch") {
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val arrival = col("vec_id") % 10 === 9
    val dir = Scratch.tempDir("graft_sq8_drift").toString
    EmbeddingOps.buildSq8IndexOn(spark,
      base.filter(!arrival), base.filter(!arrival), dir)
    // in-distribution arrivals: a coordinate clamps only when it falls
    // outside the 9/10 training slice's range — the distribution's edge
    val inDist = EmbeddingOps.appendSq8Index(spark,
      base.filter(arrival), dir, batchId = 0L)
    assert(inDist < EmbeddingOps.SQ8_CLAMP_RETRAIN,
      s"in-distribution clamp rate $inDist must sit below the retrain " +
        s"threshold ${EmbeddingOps.SQ8_CLAMP_RETRAIN}")
    // the same batch translated +2: every coordinate saturates — the
    // monitor must fire well past the threshold (the retrain gate
    // depends on it)
    val shifted = base.filter(arrival).withColumn("embedding",
      expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 2.0 AS FLOAT))"))
    val drifted = EmbeddingOps.appendSq8Index(spark, shifted, dir, batchId = 1L)
    assert(drifted > EmbeddingOps.SQ8_CLAMP_RETRAIN,
      s"shifted-batch clamp rate $drifted must exceed the retrain " +
        s"threshold ${EmbeddingOps.SQ8_CLAMP_RETRAIN}")
    assert(drifted > inDist, "drift must be ordered above in-distribution")
  }

  test("per-cell clamp monitor fires where the global average dilutes") {
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val arrival = col("vec_id") % 10 === 9
    val dir = Scratch.tempDir("graft_cellmm_drift").toString
    EmbeddingOps.buildIvfSq8CellIndexOn(spark, base.filter(!arrival), dir)
    // a MIXED batch: one drifted vector among ~49 in-distribution
    // arrivals — the regime where a single global clamp average stays
    // under the trigger while the drifted population's own cell
    // saturates. The per-cell monitor (worst cell) must fire anyway.
    val mixed = base.filter(arrival).withColumn("embedding",
      when(col("vec_id") === 9,
        expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 2.0 AS FLOAT))"))
        .otherwise(col("embedding")))
    val worst = EmbeddingOps.appendIvfSq8CellIndex(spark, mixed, dir, 0L)
    // the equivalent GLOBAL average over the same batch and rows
    val mm = spark.read.parquet(s"$dir/cellmm")
    val cents = spark.read.parquet(s"$dir/centroids")
    val clamped = "aggregate(transform(sequence(1, 64), i -> " +
      "CASE WHEN CAST(element_at(embedding, i) AS DOUBLE) < element_at(mns, i) " +
      "OR CAST(element_at(embedding, i) AS DOUBLE) > element_at(mxs, i) " +
      "THEN 1 ELSE 0 END), 0, (a, x) -> a + x)"
    val asg = mixed.crossJoin(broadcast(cents))
      .withColumn("dist",
        graft.functions.GraftFunctions.l2_sq(col("embedding"), col("centroid")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cell"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cell").as("cell"))
    val g = asg.join(broadcast(mm), Seq("cell"))
      .selectExpr(s"$clamped AS nc")
      .agg((sum(col("nc")).cast("double") /
        (count(lit(1)).cast("double") * 64)).as("r")).head().getDouble(0)
    info(s"worst-cell clamp = $worst, global average = $g")
    assert(worst > EmbeddingOps.SQ8_CLAMP_RETRAIN,
      s"the drifted vector's cell must fire the monitor, got $worst")
    assert(worst > g, "the per-cell monitor must dominate the global average")
    assert(g < worst / 2,
      s"one drifted vector among ~49 must dilute the global average " +
        s"well below the worst cell (global $g vs worst $worst)")
  }
}
