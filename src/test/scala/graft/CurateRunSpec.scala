package graft

/** The composed corpus-build CLI: the funnel may only shrink, the final
  * corpus must be exactly the surviving docs with their CLEANED text, and
  * rerunning must reproduce it byte-for-byte (the determinism promise all
  * the underlying gated operators make).
  */
class CurateRunSpec extends SparkSpec {

  test("one-pass signal table keeps exactly what the seven gated queries keep") {
    import graft.text.{CurationOps, TextOps}
    val onePass = CurateRun.signalTable(spark, tiny)
      .where("ok_quality = 1 AND ok_gopher = 1 AND ok_rep = 1 AND " +
        "ok_lang = 1 AND ok_vocab = 1 AND ok_fluency = 1 AND ok_ppl = 1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the reference composition: each gated query's keep set intersected
    // (fluency: the q_unigram_logrank scores under the shared relative
    // keep rule, re-derived here from the gated query's own output)
    val lr = graft.text.CurationOps.unigramLogRank(spark, tiny)
      .select("doc_id", "soma_pesos", "n_tokens").collect()
    val tCorpus = lr.map(_.getAs[Int]("n_tokens").toLong).sum
    val sCorpus = lr.map(_.getAs[Long]("soma_pesos")).sum
    val fluent = lr.filter(r =>
        50L * r.getAs[Long]("soma_pesos") * tCorpus >=
          49L * sCorpus * r.getAs[Int]("n_tokens"))
      .map(_.getAs[Long]("doc_id")).toSet
    val gates = Seq(
      TextOps.textQuality(spark, tiny).where("qualidade = 'boa'"),
      TextOps.qualityGopher(spark, tiny).where("decisao = 'mantem'"),
      CurationOps.textRepetition(spark, tiny).where("repetitivo = 0"),
      TextOps.langId(spark, tiny).where("acerto = 1"),
      CurationOps.vocabOov(spark, tiny).where("taxa_oov <= 0.5"))
    val pplKeep = CurationOps.pplKeepDocIds(spark, tiny)
      .collect().map(_.getLong(0)).toSet
    val perQuery = (fluent +: pplKeep +: gates.map(_.select("doc_id")
      .collect().map(_.getLong(0)).toSet)).reduce(_ intersect _)
    assert(onePass === perQuery,
      "one-pass funnel drifted from the per-query gates")
    // the fluency and LM gates must be non-vacuous on the tiny corpus —
    // a threshold nothing fails would gate nothing
    assert(fluent.size < lr.length, "fluency gate dropped no docs")
    assert(pplKeep.size < lr.length, "LM perplexity gate dropped no docs")
    assert((fluent -- pplKeep).nonEmpty || (pplKeep -- fluent).nonEmpty,
      "the trained LM should disagree with the frequency prior somewhere")
  }

  test("curation funnel is monotone; written corpus matches the survivors; rerun identical") {
    val out = s"${Scratch.tempDir("graft_curate_spec_")}/out"
    val funnel = CurateRun.run(spark, tiny, out)
    assert(funnel.head._1 == "ingest")
    funnel.sliding(2).foreach { case Seq((a, na), (b, nb)) =>
      assert(nb <= na, s"stage '$b' grew the corpus ($na -> $nb)")
    }
    assert(funnel.last._2 > 0, "tiny corpus should survive curation")
    // the closing HLL diagnostic: a sane distinct-shingle estimate of
    // the corpus the funnel just wrote (the estimator's error band is
    // pinned by CurationOpsSpec; here the wiring must produce a number
    // in the right ballpark, not zero and not astronomically off)
    val est = CurateRun.corpusShingleEstimate(spark, out)
    assert(est > 0, "HLL estimate of the written corpus must be positive")
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.count() == funnel.last._2)
    assert(corpus.columns.toSet ==
      Set("doc_id", "lang", "source", "texto_limpo", "n_tokens"))
    // text is the CLEANED form: token count must equal the n_tokens col
    corpus.collect().foreach { r =>
      val n = r.getAs[String]("texto_limpo").trim.split("\\s+").length
      assert(n == r.getAs[Int]("n_tokens"), s"doc ${r.getAs[Long]("doc_id")}")
    }
    val first = corpus.orderBy("doc_id").collect().toSeq
    val funnel2 = CurateRun.run(spark, tiny, out)
    assert(funnel2 == funnel)
    assert(spark.read.parquet(s"$out/corpus").orderBy("doc_id").collect().toSeq == first)
    // the three-process DAG shape (signals -> dedup -> final, each
    // reading the previous keep-list back) must land on the SAME corpus
    val staged = s"$out-staged"
    val nSig = CurateRun.runStage(spark, "signals", tiny, staged)
    assert(nSig == funnel.find(_._1 == "lm perplexity").get._2)
    val nDed = CurateRun.runStage(spark, "dedup", tiny, staged)
    assert(nDed == funnel.find(_._1 == "not contaminated").get._2)
    val nFin = CurateRun.runStage(spark, "final", tiny, staged)
    assert(nFin == funnel.last._2)
    assert(spark.read.parquet(s"$staged/corpus")
      .orderBy("doc_id").collect().toSeq == first)
  }
}
