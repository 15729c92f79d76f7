package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.{CurationOps, TextOps}

/** End-to-end corpus-build CLI — the curation twin of `graft.etl.aw.AwRun`:
  * composes the driver-gated curation operators into the staged recipe a
  * training-data pipeline actually runs, prints the keep/drop funnel, and
  * writes the final cleaned corpus as language-partitioned parquet.
  *
  * Every stage IS one of the gated queries — this main only composes and
  * counts, so its correctness rests entirely on the per-operator DuckDB
  * gates:
  *
  *   1. rule gates, evaluated in ONE corpus pass over the shared signal
  *      templates (plus the vocab aggregate's own scan): quality verdict
  *      (q_text_quality), Gopher battery (q_quality_gopher), repetition
  *      rules (q_text_repetition), language-ID agreement (q_lang_id),
  *      vocab coverage (q_vocab_oov) — spec-pinned to keep exactly the
  *      docs the five individual gated queries keep;
  *   2. dedup OVER THE SIGNAL SURVIVORS: exact keep-one (the
  *      q_dedup_exact grouping, keeper picked among survivors), near-dup
  *      keep-one-per-cluster (the q_dedup_canonical closure over the
  *      surviving docs), eval-split contamination drop (q_decontaminate);
  *   3. passage cleaning (q_passage_clean) rewrites the survivors' text,
  *      dropping any doc whose text was fully duplicated elsewhere.
  *
  * Two invocation shapes:
  *   runMain graft.CurateRun [sfDir] [outDir]
  *     — the whole funnel in one process (development / single-job mode);
  *   runMain graft.CurateRun --stage signals|dedup|final|report <sfDir> <outDir>
  *     — ONE stage per process, later stages reading the previous stage's
  *       keep-list parquet from outDir: the task-boundary read-back
  *       contract `dags/graft_curate_dag.py` orchestrates (the same
  *       deployment shape as AwRun --table under graft_aw_dag.py).
  */
object CurateRun {

  /** The signal gates (stage 1), in funnel order: (funnel name, 0/1
    * verdict column of [[signalTable]]). The verdicts come from the SAME
    * dialect templates the individual gated queries evaluate
    * (q_text_quality / q_quality_gopher / q_text_repetition / q_lang_id /
    * q_vocab_oov), so the one-pass funnel and the per-operator gates
    * cannot drift — CurateRunSpec additionally asserts the keep sets are
    * identical.
    */
  private val signalGateCols: Seq[(String, String)] = Seq(
    "quality boa" -> "ok_quality",
    "gopher mantem" -> "ok_gopher",
    "not repetitive" -> "ok_rep",
    "lang-id agrees" -> "ok_lang",
    "vocab coverage" -> "ok_vocab",
    "fluency prior" -> "ok_fluency",
    // r14: the REAL-LM perplexity filter beside its frequency-prior
    // proxy — the deployment funnel runs the trained model
    // (CurationOps.pplKeepDocIds), kept last as the costliest signal
    "lm perplexity" -> "ok_ppl")

  /** ONE corpus pass evaluating every per-row signal verdict (quality,
    * gopher battery, repetition, lang-ID agreement — the shared
    * curateSignals projection, tokenize-once) plus the corpus-aggregate
    * verdicts (vocab coverage AND the fluency prior), which share ONE
    * materialized exploded-token projection and ONE term-count aggregate
    * (CurationOps.corpusAggVerdicts) — so the fluency gate costs the
    * funnel zero additional corpus scans. Stage 1 used to re-scan and
    * re-tokenize the corpus once PER GATE; at 100 TB the difference is 6
    * corpus scans vs 2-and-the-token-projection. Materialized through a
    * checkpoint barrier — every funnel count and the keep-list read it.
    */
  private[graft] def signalTable(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "lang", "text")
    val sig = CurationOps.curateSignals(base, barrier = false, withGopher = true)
    val agg = CurationOps.corpusAggVerdicts(s, d)
    // the LM gate pays its own training+scoring pass (it cannot share
    // the unigram projection: it needs positions and the bigram table);
    // zero-token docs have no score and fail the gate, like vocabOov's
    // empty-doc rule
    val ppl = CurationOps.pplKeepDocIds(s, d)
      .withColumn("ok_ppl", org.apache.spark.sql.functions.lit(1))
    graft.Checkpoint.barrier(
      sig.join(agg, Seq("doc_id"), "left")
        .join(ppl, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "CASE WHEN qualidade = 'boa' THEN 1 ELSE 0 END AS ok_quality",
          "CASE WHEN gopher = 'mantem' THEN 1 ELSE 0 END AS ok_gopher",
          "CASE WHEN repetitivo = 0 THEN 1 ELSE 0 END AS ok_rep",
          "lang_ok AS ok_lang",
          "ok_vocab", "ok_fluency",
          "coalesce(ok_ppl, 0) AS ok_ppl"))
  }

  private def allSignalsOk: String =
    signalGateCols.map { case (_, c) => s"$c = 1" }.mkString(" AND ")

  /** The dedup/leakage gates (stage 2): (name, gate-set, anti?) — anti
    * gates DROP the listed docs instead of keeping them.
    *
    * Dedup is computed over the stage-1 SURVIVORS, not the full corpus:
    * a keeper/canonical picked corpus-wide can itself be a doc stage 1
    * dropped (bad quality, lang mismatch), and intersecting with such a
    * keeper set would then drop every surviving copy too — the content
    * would vanish entirely, contradicting dedup's keep-one intent. Picking
    * the keeper among survivors guarantees at least one copy of surviving
    * content is always retained. Decontamination stays corpus-structural
    * (eval docs leaked into the TRAIN split) and is a pure drop gate, so
    * it has no keeper to misplace.
    *
    * The survivor relation is materialized once through a checkpoint
    * barrier: both dedup gates read it, and behind it sits the whole
    * stage-1 semi-join chain.
    */
  /** Returns the gate list AND the materialized survivor relation the
    * first two gates read, so the caller can release its blocks once the
    * last gate's output has materialized.
    */
  private def dedupGates(s: SparkSession, d: String,
      kept: DataFrame): (Seq[(String, DataFrame, Boolean)], DataFrame) = {
    val surv = graft.Checkpoint.barrier(
      Tables.documents(s, d)
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text")
        .join(kept.select("doc_id"), Seq("doc_id"), "left_semi"))
    val exactKeepers = surv.groupBy(md5(col("text")).as("hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    // non-canonical members of near-dup clusters AMONG survivors; cluster
    // label = component minimum, which is by construction a survivor
    val nearDupDropped = TextOps.dedupClustersOf(s, surv)
      .filter(col("doc_id") =!= col("cluster"))
    (Seq(
      ("exact keeper", exactKeepers.select("doc_id"), false),
      ("near-dup canonical", nearDupDropped.select("doc_id"), true),
      ("not contaminated",
        CurationOps.decontaminate(s, d).where("contaminado = 1"), true)),
      surv)
  }

  private def cleaned(s: SparkSession, d: String): DataFrame =
    TextOps.passageClean(s, d).select("doc_id", "n_mantidos", "texto_limpo")

  private def applyGate(kept: DataFrame, gate: DataFrame, anti: Boolean): DataFrame =
    kept.join(gate.select("doc_id"), Seq("doc_id"),
      if (anti) "left_anti" else "left_semi")

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "lang", "source")

  private def writeFinal(s: SparkSession, d: String, kept: DataFrame,
      out: String): Long = {
    val fin = docs(s, d).join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(cleaned(s, d).where("n_mantidos > 0"), Seq("doc_id"))
      .selectExpr("doc_id", "lang", "source", "texto_limpo",
        "n_mantidos AS n_tokens")
    fin.write.mode("overwrite").partitionBy("lang").parquet(s"$out/corpus")
    s.read.parquet(s"$out/corpus").count()
  }

  /** HLL distinct-3-shingle estimate of the WRITTEN corpus — the
    * content-diversity number a corpus build reports next to its
    * doc/token counts (a dedup'd corpus with low distinct-shingle mass is
    * boilerplate, not diversity). O(m)=256 rows collected; the estimator
    * is the spec-error-bounded CurationOps.hllEstimateOf.
    */
  private[graft] def corpusShingleEstimate(s: SparkSession, out: String): Long = {
    graft.functions.GraftFunctions.register(s)
    val regs = CurationOps.hllRegistersOf(
        s.read.parquet(s"$out/corpus").selectExpr("texto_limpo AS text"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    math.round(CurationOps.hllEstimateOf(regs))
  }

  /** The staged funnel in one process: returns (stage name, docs
    * surviving) in order, with the final corpus written to
    * `out`/corpus. Shared by main and the spec.
    */
  def run(spark: SparkSession, dir: String, out: String): Seq[(String, Long)] = {
    val funnel = Seq.newBuilder[(String, Long)]
    val tbl = signalTable(spark, dir)
    // ingest + the seven cumulative-conjunction gate counts in ONE
    // aggregation pass over the materialized signal table (r22, §2.4):
    // previously 8 separate count jobs each re-read the corpus-sized
    // materialization. sum(c1*…*ck) over the 0/1 verdict columns equals
    // the old `WHERE c1=1 AND … AND ck=1` count exactly (a NULL verdict
    // nulls the product and sum skips it, just as `= 1` excluded it).
    val cumCols = signalGateCols.map(_._2)
      .scanLeft("CAST(1 AS BIGINT)")((acc, c) => s"$acc * $c").tail
    val oneRow = tbl.selectExpr(
      Seq("COUNT(1) AS n_ingest") ++
        cumCols.zipWithIndex.map { case (e, i) => s"SUM($e) AS n_g$i" }: _*)
      .head()
    funnel += "ingest" -> oneRow.getLong(0)
    signalGateCols.zipWithIndex.foreach { case ((name, _), i) =>
      funnel += name -> oneRow.getLong(i + 1)
    }
    var kept = tbl.where(allSignalsOk).select("doc_id")
    val (gates, surv) = dedupGates(spark, dir, kept)
    gates.foreach { case (name, gate, anti) =>
      // materialize after each gate: the funnel count, every LATER gate,
      // and writeFinal all consume `kept` — unbarriered, each consumer
      // re-executed every earlier gate's derivation (the exact-keeper
      // aggregate ran 4×, the near-dup components 3×, decontaminate 2×).
      // Rotation (r22): each gate's checkpoint supersedes the previous
      // one's blocks (the first `kept` is a plain select, release no-ops)
      val next = graft.Checkpoint.barrierReplacing(
        applyGate(kept, gate, anti), kept)
      kept = next
      funnel += name -> kept.count()
    }
    // every gate has materialized: the signal table and the survivor
    // relation fed them only — writeFinal reads raw tables + final kept
    graft.Checkpoint.release(tbl)
    graft.Checkpoint.release(surv)
    funnel += "passage-clean nonempty" -> writeFinal(spark, dir, kept, out)
    funnel.result()
  }

  /** One DAG stage per process; `signals` and `dedup` persist their
    * surviving doc_id keep-list for the next task to read back.
    */
  def runStage(spark: SparkSession, stage: String, dir: String,
      out: String): Long = stage match {
    case "signals" =>
      signalTable(spark, dir).where(allSignalsOk).select("doc_id")
        .write.mode("overwrite").parquet(s"$out/keep_signals")
      spark.read.parquet(s"$out/keep_signals").count()
    case "dedup" =>
      var kept = spark.read.parquet(s"$out/keep_signals")
      val (gates, surv) = dedupGates(spark, dir, kept)
      gates.foreach { case (_, gate, anti) =>
        kept = applyGate(kept, gate, anti)
      }
      kept.write.mode("overwrite").parquet(s"$out/keep_dedup")
      graft.Checkpoint.release(surv)
      spark.read.parquet(s"$out/keep_dedup").count()
    case "final" =>
      writeFinal(spark, dir, spark.read.parquet(s"$out/keep_dedup"), out)
    case "report" =>
      // the release artifacts a corpus drop ships beside the data: the
      // per-(lang, source) card, the DSIR importance scores, and the
      // novelty-vs-reference fractions — each a gated operator, written
      // as parquet next to the corpus
      import graft.text.CurationOps
      CurationOps.corpusCard(spark, dir)
        .write.mode("overwrite").parquet(s"$out/report/card")
      CurationOps.dsirScore(spark, dir)
        .write.mode("overwrite").parquet(s"$out/report/dsir")
      CurationOps.ngramNovelty(spark, dir)
        .write.mode("overwrite").parquet(s"$out/report/novelty")
      spark.read.parquet(s"$out/report/card").count()
    case other =>
      throw new IllegalArgumentException(
        s"unknown stage '$other' (expected signals|dedup|final|report)")
  }

  def main(args: Array[String]): Unit = {
    val (stage, rest) =
      if (args.length >= 2 && args(0) == "--stage") (Some(args(1)), args.drop(2))
      else (None, args)
    val dir = if (rest.nonEmpty) rest(0) else "/root/testdata/sf0.01"
    val out = if (rest.length > 1) rest(1)
              else s"/tmp/graft_corpus_${System.nanoTime()}"
    val spark = GraftSession.open(dir)
    val t0 = System.nanoTime()
    stage match {
      case Some(st) =>
        val n = runStage(spark, st, dir, out)
        println(f"stage $st: $n%d docs surviving " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
      case None =>
        val funnel = run(spark, dir, out)
        funnel.foreach { case (name, n) => println(f"$name%-24s $n%8d docs") }
        val roll = spark.read.parquet(s"$out/corpus")
          .groupBy("lang").agg(count(lit(1)).as("docs"),
            sum("n_tokens").as("tokens"))
          .orderBy("lang").collect()
        println("final corpus by language:")
        roll.foreach(r => println(
          f"  ${r.getString(0)}%-4s ${r.getLong(1)}%7d docs ${r.getLong(2)}%10d tokens"))
        println(s"distinct 3-shingles ~ ${corpusShingleEstimate(spark, out)} (HLL m=256)")
        println(f"corpus written to $out/corpus in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
