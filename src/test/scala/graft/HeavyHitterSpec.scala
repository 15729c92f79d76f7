package graft

import org.apache.spark.sql.functions._
import graft.functions.MisraGries
import graft.ops.RelationalOps
import graft.text.CurationOps

/** Heavy-hitter family: the Misra-Gries guarantee itself (pure summary
  * math over adversarial chunkings), the batch gate vs in-Spark exact
  * truth, exactly-once replay of the streamed summary store, and the
  * sketch-driven adaptive skew salting.
  */
class HeavyHitterSpec extends SparkSpec {

  /** Deterministic skewed stream: key i appears freq(i) times, shuffled
    * by an LCG so heavy keys are interleaved, not contiguous.
    */
  private def stream(): Vector[String] = {
    val freqs = (0 until 100).map { i =>
      val f = if (i < 3) 2000 - 400 * i else 8 + (i % 7)
      Seq.fill(f)(s"k$i")
    }
    val flat = freqs.flatten.toVector
    // LCG permutation of indices (deterministic, no Random)
    val n = flat.size
    val perm = Iterator.iterate(1L)(x => (x * 1103515245L + 12345L) % 2147483647L)
      .take(n).toVector.zipWithIndex.sortBy(_._1).map(_._2)
    perm.map(flat)
  }

  test("Misra-Gries guarantee survives arbitrary chunkings and merge trees") {
    val s = stream()
    val n = s.size.toLong
    val truth = s.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (k <- Seq(7, 19, 64); chunks <- Seq(1, 4, 13)) {
      val mg = MisraGries(k)
      val parts = s.grouped(math.max(1, s.size / chunks)).toSeq
        .map(_.foldLeft(mg.zero)(mg.reduce))
      val summary = mg.finish(parts.reduce(mg.merge))
      assert(summary.size <= k, s"k=$k chunks=$chunks: summary exceeds k")
      val bound = n / (k + 1)
      truth.foreach { case (key, c) =>
        if (c > bound)
          assert(summary.contains(key),
            s"k=$k chunks=$chunks: heavy key $key (count $c > n/(k+1)=$bound) missing")
      }
      summary.foreach { case (key, est) =>
        val c = truth(key)
        assert(est <= c, s"k=$k chunks=$chunks: $key overcounted ($est > $c)")
        assert(c - est <= bound,
          s"k=$k chunks=$chunks: $key undercounted past the bound ($c - $est > $bound)")
      }
    }
  }

  test("heavyHitters equals the exact GROUP BY/HAVING truth and is non-vacuous") {
    val got = CurationOps.heavyHitters(spark, tiny).collect()
    assert(got.length > 0, "gate must be non-vacuous at sf0.001")
    val sh = CurationOps.hhShingles(Tables.documents(spark, tiny))
    val n = sh.count()
    val thr = CurationOps.hhThreshold(n)
    val truth = sh.groupBy("shingle").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= thr)
      .orderBy(desc("freq"), asc("shingle")).collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      truth.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // the sketch had a real job: the candidate superset is far smaller
    // than the distinct-shingle domain only when thr > 1; sanity the
    // threshold scaled from n
    assert(thr === (2 * n + CurationOps.hhK - 1) / CurationOps.hhK)
  }

  test("streamed summary store: replayed batch is a no-op, resolve equals the one-shot result") {
    import graft.etl.StoreCommit
    val base = Scratch.tempDir("graft_hh_spec").toString
    val state = s"$base/state"
    val docs = Tables.documents(spark, tiny)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text")
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    CurationOps.hhApplyBatch(spark, state, b0, 0L)
    CurationOps.hhApplyBatch(spark, state, b1, 1L)
    val committed = StoreCommit.committed(state)
    val before = spark.read.parquet(s"$state/${committed.get._1}")
      .orderBy("shingle").collect().toSeq
    // replay of batch 1 (redelivery after a simulated sink crash): the
    // watermark must absorb it — pointer and rows bit-identical
    CurationOps.hhApplyBatch(spark, state, b1, 1L)
    assert(StoreCommit.committed(state) === committed, "pointer moved on replay")
    val after = spark.read.parquet(s"$state/${committed.get._1}")
      .orderBy("shingle").collect().toSeq
    assert(before === after, "replay mutated the committed summary")
    // read-time resolution lands on the one-shot batch result
    val resolved = CurationOps.hhResolve(spark, state, docs).collect()
    val oneShot = CurationOps.heavyHitters(spark, tiny).collect()
    assert(resolved.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      oneShot.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("boilerplate fraction is non-vacuous and bounded") {
    val bf = CurationOps.boilerplateFrac(spark, tiny)
    val rows = bf.collect()
    assert(rows.length > 0)
    assert(rows.exists(_.getInt(2) > 0),
      "a corpus with heavy shingles must show boilerplate hits")
    rows.foreach { r =>
      val frac = r.getDouble(3)
      assert(frac >= 0.0 && frac <= 1.0, s"frac out of range: $r")
      assert(r.getInt(2) <= r.getInt(1), s"hits exceed shingles: $r")
    }
  }

  test("adaptive salting flags only sketch-hot keys and preserves row identity") {
    import spark.implicits._
    // one 50%-share hot key among 100 cold keys
    val hotRows = (0 until 5000).map(i => (i.toLong, "hot", (i % 97).toDouble))
    val coldRows = (0 until 5000).map { i =>
      (10000L + i, s"cold${i % 100}", (i % 89).toDouble)
    }
    val ev = (hotRows ++ coldRows).toDF("event_id", "event_type", "value")
    assert(RelationalOps.detectHotKeys(ev, "event_type", 64, 20) === Seq("hot"))
    // uniform data: nothing flagged, nothing salted
    val uniform = coldRows.toDF("event_id", "event_type", "value")
    assert(RelationalOps.detectHotKeys(uniform, "event_type", 64, 20).isEmpty)
    // salting is a pure cost device: adaptive result ≡ plain join
    val adaptive = RelationalOps.skewJoinSaltedAdaptiveOf(ev).collect()
    val plain = RelationalOps.skewJoinPlain(ev, RelationalOps.skewDim(ev)).collect()
    assert(adaptive.length === plain.length)
    assert(adaptive.map(_.toSeq).toSeq === plain.map(_.toSeq).toSeq)
  }
}
