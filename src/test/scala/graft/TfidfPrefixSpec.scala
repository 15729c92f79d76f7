package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps

/** The ALL-PAIRS prefix filter behind q_tfidf_cosine (r17) — the
  * properties the bit-exactness gate cannot see:
  *
  *  1. answer equality: the prefix-filtered plan returns EXACTLY the
  *     naive all-shared-terms plan's pairs (the filter is a candidate
  *     pruning, never a semantic change);
  *  2. the point of it: the candidate set is strictly smaller than the
  *     naive Σ df² blocking on a corpus with frequent terms — the shape
  *     that spun the sf1 rotation for 25 minutes before the fix;
  *  3. the safety direction: candidates ⊇ answer pairs (the suffix
  *     bound drops only pairs that provably cannot reach the
  *     threshold).
  */
class TfidfPrefixSpec extends SparkSpec {

  test("prefix-filtered pairs == naive pairs, candidates strictly fewer") {
    val filtered = TextOps.tfidfCosinePairs(spark, tiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val naive = TextOps.tfidfCosinePairsNaive(spark, tiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(filtered == naive,
      "the prefix filter must not change the answer (bit-exact sims included)")
    assert(filtered.nonEmpty, "the tiny corpus must produce pairs")

    // safety: every answer pair is among the candidates
    val candSet = TextOps.tfidfCosineCandidates(spark, tiny, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered.forall { case (a, b, _) => candSet((a, b)) },
      "every qualifying pair must survive the prefix filter")
  }

  test("the filter bites on the frequent-term shape that spun sf1") {
    // 120 docs sharing one frequent token (df just under the N/10 cap
    // would be df ≤ 12 — so use a token in EVERY doc? the cap drops it;
    // instead: a token in 11 of 120 docs survives the cap and blocks
    // 55 pairs naively) — each doc otherwise disjoint, so NO pair
    // reaches threshold and the prefix filter should refuse nearly all
    // of the naive blocking.
    import spark.implicits._
    val dir = Scratch.tempDir("graft_tfidf_prefix").toString
    val docs = (1 to 120).map { i =>
      val shared = if (i <= 11) "commontoken " else ""
      (i.toLong, shared + (1 to 20).map(j => s"tok_${i}_$j").mkString(" "))
    }
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val candN = TextOps.tfidfCosineCandidates(spark, dir, 0.3).count()
    val naiveN = 11L * 10 / 2 // the naive blocking on the shared token
    assert(candN < naiveN,
      s"prefix candidates ($candN) must undercut the naive blocking ($naiveN)")
    // and the answer over this corpus is empty in both plans
    assert(TextOps.tfidfCosinePairs(spark, dir).count() == 0)
    assert(TextOps.tfidfCosinePairsNaive(spark, dir).count() == 0)
  }
}
