package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Exact-substring match semantics on constructed cases — the
  * properties the corpus gate (bit-exact vs the independent DuckDB
  * re-derivation) cannot isolate:
  *
  *  1. a single shared run reports as ONE maximal span with the exact
  *     start positions and length on both sides;
  *  2. a one-token interruption splits the run into TWO spans (the
  *     diagonal chain genuinely requires contiguous agreement — a
  *     partner-agnostic union of duplicated windows would bridge it);
  *  3. runs shorter than k report nothing; within-document repeats
  *     report nothing (cross-document contract).
  */
class SubstringDedupSpec extends SparkSpec {

  private val K = 8

  /** Stage constructed docs as a documents.parquet dir the operator's
    * normal loader reads — the real code path, no test-only seam.
    */
  private def staged(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Scratch.tempDir("graft_substr_spec").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def toks(n: Int, tag: String): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("one shared run, one maximal span, exact positions and length") {
    // doc 1: 5 unique tokens, then a 12-token shared run, then filler
    // doc 2: 2 unique tokens, then the same 12-token run, then filler
    val run = toks(12, "s")
    val dir = staged(Seq(
      1L -> s"${toks(5, "a")} $run ${toks(6, "b")}",
      2L -> s"${toks(2, "c")} $run ${toks(9, "d")}"))
    val got = TextOps.substringDedup(spark, dir, K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(got.toSeq == Seq((1L, 2L, 6, 3, 12)),
      s"expected one (1,2) span at pos 6/3 of 12 tokens, got ${got.toSeq}")
  }

  test("a one-token interruption splits the match into two spans") {
    // same 21 tokens on both sides except token 11 differs — two maximal
    // runs of 10 tokens each; a window union would report one island
    val left = (1 to 21).map(i => s"s$i").mkString(" ")
    val right = (1 to 21).map(i => if (i == 11) "XX" else s"s$i").mkString(" ")
    val dir = staged(Seq(1L -> left, 2L -> right))
    val got = TextOps.substringDedup(spark, dir, K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(got.toSeq == Seq((1L, 2L, 1, 1, 10), (1L, 2L, 12, 12, 10)),
      s"expected two 10-token spans split at the interruption, got ${got.toSeq}")
  }

  test("short shared runs and within-document repeats report nothing") {
    val short = toks(K - 1, "s") // k−1 shared tokens: no anchor window
    val rep = toks(K + 2, "r")
    val dir = staged(Seq(
      1L -> s"$short ${toks(4, "a")}",
      2L -> s"$short ${toks(4, "b")}",
      3L -> s"$rep ${toks(3, "c")} $rep")) // within-doc repeat only
    val got = TextOps.substringDedup(spark, dir, K).collect()
    assert(got.isEmpty, s"expected no spans, got ${got.toSeq}")
  }

  test("hot-anchor cap: an over-cap window splits the run it straddles") {
    // docs 1,2 share a 12-token run (anchor windows at run positions
    // 1..5). The window at position 3 (tokens s3..s10) is made HOT by 8
    // more docs consisting of exactly those 8 tokens → frequency 10.
    // cap=8 drops it: the (1,2) run splits into two 9-token spans at
    // the capped position, and the hot docs pair with nothing at all
    // (their only window is over-cap) — the spec-pinned degradation.
    val run = toks(12, "s")
    val hot = (3 to 10).map(i => s"s$i").mkString(" ")
    val dir = staged(
      Seq(1L -> s"$run ${toks(4, "a")}", 2L -> s"$run ${toks(4, "b")}") ++
        (3L to 10L).map(i => i -> hot))
    val capped = TextOps.substringDedup(spark, dir, K, maxAnchorFreq = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(capped.toSeq == Seq((1L, 2L, 1, 1, 9), (1L, 2L, 4, 4, 9)),
      s"expected the run split at the capped window, got ${capped.toSeq}")
    // above the frequency, the same corpus reports the full runs again
    val full = TextOps.substringDedup(spark, dir, K, maxAnchorFreq = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(full.contains((1L, 2L, 1, 1, 12)),
      s"uncapped frequency must restore the maximal run, got ${full.toSeq}")
  }

  test("skew shape: 10³-doc boilerplate stays bounded and reports nothing") {
    // 1000 docs sharing a 32-token boilerplate block (25 over-cap
    // windows each) + unique tails: uncapped this is ~12.5M anchor
    // pairs on 25 shuffle keys; capped, every boilerplate window drops
    // in the pre-pass and the join sees only singleton hashes
    val boiler = toks(32, "b")
    val dir = staged((1L to 1000L).map(i =>
      i -> s"$boiler u${i}x1 u${i}x2 u${i}x3 u${i}x4"))
    val got = TextOps.substringDedup(spark, dir, K).collect()
    assert(got.isEmpty,
      s"capped run must drop the boilerplate anchors, got ${got.length} rows")
  }

  test("span removal: later occurrences cut, earliest copy kept verbatim") {
    val run = toks(12, "s")
    val dir = staged(Seq(
      1L -> s"${toks(3, "a")} $run ${toks(5, "b")}",
      2L -> s"$run ${toks(9, "c")}",
      3L -> s"${toks(8, "d")} $run"))
    val rows = TextOps.substringRemoved(spark, dir, K).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    // doc 1 (earliest occurrence) passes through untouched
    assert(rows(0) == ((1L, 20, 20,
      s"${toks(3, "a")} $run ${toks(5, "b")}")))
    // docs 2 and 3 lose exactly the 12 run tokens, filler survives
    assert(rows(1) == ((2L, 21, 9, toks(9, "c"))))
    assert(rows(2) == ((3L, 20, 8, toks(8, "d"))))
  }

  test("hot composition: over-cap boilerplate cut to one keeper, plain form leaves it") {
    // a 16-token block repeated in 40 docs: every one of its windows is
    // over a cap of 8, so the capped PAIR path drops them entirely —
    // substringRemoved leaves all 40 copies in place (the r17 pinned
    // degradation), while substringRemovedHot routes them through the
    // passage ownership cut and keeps exactly the earliest copy
    val boiler = toks(16, "h")
    val dir = staged((1L to 40L).map(i =>
      i -> s"$boiler w${i}y1 w${i}y2 w${i}y3"))
    val plain = TextOps.substringRemoved(spark, dir, K, maxAnchorFreq = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(plain.forall { case (_, kept) => kept == 19 },
      s"plain capped removal must leave every over-cap copy, got ${plain.toSeq}")
    val hot = TextOps.substringRemovedHot(spark, dir, K, maxAnchorFreq = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    assert(hot.head == ((1L, 19, s"$boiler w1y1 w1y2 w1y3")),
      s"keeper must retain the boilerplate, got ${hot.head}")
    assert(hot.tail.forall { case (i, kept, txt) =>
      kept == 3 && txt == s"w${i}y1 w${i}y2 w${i}y3" },
      "every later copy must lose exactly the boilerplate block")
  }
}
