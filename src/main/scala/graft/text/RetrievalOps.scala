package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import TextExprs._
import graft.Checkpoint.BarrierOps

/** Lexical retrieval over the corpus: BM25 top-k ranking against a fixed
  * query set, end-to-end and served from a persisted inverted index.
  *
  * Why it belongs in a training-data engine: retrieval is how a curation
  * pipeline mines targeted subsets ("find the docs about X for the
  * mixture", mining hard negatives for embedding training, targeted
  * decontamination against benchmark queries) — the lexical twin of the
  * ANN serving path in [[graft.sim.EmbeddingOps]].
  *
  * Scoring is BM25 with a RATIONAL idf, (N − df + ½)/(df + ½) — the
  * classic Robertson idf without the log. The log changes ranking
  * monotonicity only when queries mix terms (it dampens rare-term
  * dominance); the rational form keeps every arithmetic step inside
  * correctly-rounded double ops (+,−,×,÷ — no transcendental), so the
  * scores are bit-exact across engines and the gate can hash-compare
  * them (same policy as TF-IDF's rational idf, TextOps.tfidfWeight).
  * The per-(query, doc) sum over matched terms is folded LEFT-TO-RIGHT
  * in term order (sort_array → aggregate vs list(… ORDER BY) →
  * list_sum), the proven-bit-exact fold pair.
  *
  * Scale shape: one tokenize pass, two grouped counts (tf, df), a
  * broadcast of the (tiny) query-term set against the postings on the
  * term key, and a per-query ranking window bounded by the candidate
  * set. The corpus is never shuffled on anything but (doc_id, term);
  * the query side is constant-size. The indexed form persists the
  * postings so serving never re-tokenizes — at 100 TB the index is
  * built once per corpus version and each retrieval touches only the
  * postings of the query's terms (partition-pruned by term).
  */
object RetrievalOps {

  private val T = tokens("text")

  private val K1 = "CAST(1.2 AS DOUBLE)"
  private val B = "CAST(0.75 AS DOUBLE)"
  private val TOPK = 10

  /** The fixed query set (query_id → terms). Terms are drawn from the
    * corpus vocabulary; a term absent from every document simply joins
    * to no postings (correct BM25: it contributes 0 to every doc).
    */
  private[graft] val bmQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("fast", "hash", "join"),
    2 -> Seq("window", "agg", "stream"),
    3 -> Seq("customer", "query", "sort"),
    4 -> Seq("vector", "scan"))

  /** The per-term BM25 score with every step explicitly double-cast so
    * both dialects evaluate the identical correctly-rounded op sequence:
    * idf · (tf·(k1+1)) / (tf + k1·(1 − b + b·len/avgdl)).
    * `avgdl` is spelled sumlen/nd (one division) rather than a
    * pre-divided column so the oracle cannot drift on where the
    * rounding happens.
    */
  private def termScore(tf: String, df: String, len: String,
                        nd: String, sumlen: String): String =
    s"(${termIdfPart(df, nd)} * ${termTfPart(tf, len, nd, sumlen)})"

  /** The df-only factor of [[termScore]] — strictly positive (df ≤ nd),
    * so max over a term's postings commutes with this multiplication:
    * max(idf·tfn) = idf·max(tfn) bit-exactly (multiplying by a positive
    * double is monotone non-decreasing in IEEE-754). [[termMetaOf]]
    * leans on exactly that identity.
    */
  private def termIdfPart(df: String, nd: String): String =
    s"((CAST($nd - $df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
      s"(CAST($df AS DOUBLE) + CAST(0.5 AS DOUBLE)))"

  /** The per-posting tf-normalization factor of [[termScore]] — df-free,
    * so it can be aggregated per term BEFORE df exists.
    */
  private def termTfPart(tf: String, len: String,
      nd: String, sumlen: String): String = {
    val avgdl = s"(CAST($sumlen AS DOUBLE) / CAST($nd AS DOUBLE))"
    val norm = s"(CAST(1 AS DOUBLE) - $B + $B * (CAST($len AS DOUBLE) / $avgdl))"
    s"((CAST($tf AS DOUBLE) * ($K1 + CAST(1 AS DOUBLE))) / " +
      s"(CAST($tf AS DOUBLE) + $K1 * $norm))"
  }

  /** A deliberately EXPENSIVE per-posting scorer — the regime the r17
    * crossover measurement repositioned WAND's value onto: plain BM25
    * is a handful of flops, so an exhaustive codegen scan beats pruning
    * at any corpus size; a learned re-ranker (cross-encoder distill,
    * feature-heavy LTR) costs 10²–10³× per posting, and there pruning's
    * postings saving IS the wall-clock saving. Modeled portably as a
    * depth-[[ExpensiveDepth]] md5 chain over (term, doc_id, tf) folded
    * into a boost in [0.5, 1) that MULTIPLIES the BM25 contribution —
    * so every stored per-term upper bound still bounds the boosted
    * contribution (boost < 1) and MaxScore pruning stays answer-exact
    * with zero changes to the pruning algebra. Deterministic and
    * engine-portable (the md5-hex chain is bit-identical in Spark and
    * DuckDB), so the gate oracle re-derives the same ranking.
    */
  private[graft] val ExpensiveDepth = 512
  // the chain is a RUNTIME fold (one shallow higher-order expression),
  // not syntactic nesting: a depth-512 nested md5(md5(...)) overflows
  // both engines' parser/analyzer stacks, while aggregate/list_reduce
  // loop at evaluation time with a constant-size tree
  private def md5ChainSpark(seed: String, depth: Int): String =
    s"aggregate(sequence(1, $depth), $seed, (acc, x) -> md5(acc))"
  private def md5ChainDuck(seed: String, depth: Int): String =
    s"list_reduce(list_prepend($seed, " +
      s"list_transform(range(1, ${depth + 1}), x -> '')), " +
      "(acc, x) -> md5(acc))"
  private def expensiveScoreSpark(tf: String, df: String, len: String,
      nd: String, sumlen: String): String = {
    val seed = s"concat(term, '#', CAST(doc_id AS STRING), '#', CAST($tf AS STRING))"
    val boost = s"(CAST(0.5 AS DOUBLE) + CAST(conv(substring(" +
      s"${md5ChainSpark(seed, ExpensiveDepth)}, 1, 8), 16, 10) AS DOUBLE) / " +
      "CAST(8589934592 AS DOUBLE))"
    s"(${termScore(tf, df, len, nd, sumlen)} * $boost)"
  }
  private def expensiveScoreDuck(tf: String, df: String, len: String,
      nd: String, sumlen: String): String = {
    val seed = s"(q.term || '#' || CAST(tf.doc_id AS VARCHAR) || '#' || CAST($tf AS VARCHAR))"
    val boost = s"(CAST(0.5 AS DOUBLE) + CAST(('0x' || substring(" +
      s"${md5ChainDuck(seed, ExpensiveDepth)}, 1, 8))::BIGINT AS DOUBLE) / " +
      "CAST(8589934592 AS DOUBLE))"
    s"(${termScore(tf, df, len, nd, sumlen)} * $boost)"
  }

  /** Raw postings (term, doc_id, tf, len) from any document batch — the
    * append-only unit of the inverted index. df is NOT baked in: it is
    * derived at read time by a per-term count over the postings, which
    * (a) makes the persisted index append-only under arrivals (the
    * streamed twin unions batch postings; no read-modify-write of df
    * columns), and (b) stays correct under term-bucket pruning, because
    * every posting of a term lives in that term's bucket.
    */
  private def docPostings(docs: DataFrame): DataFrame =
    docTokenPostings(docs
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS t")
      .select(col("doc_id"), size(col("t")).as("len"), explode(col("t")).as("term")))

  /** The tf-fold tail of [[docPostings]] over an explicit (doc_id, len,
    * term) token relation — the entry point for generators that can emit
    * token rows directly (the Zipf staging), skipping the
    * build-a-string-then-regex-split round trip.
    */
  private def docTokenPostings(tokRows: DataFrame): DataFrame =
    tokRows
      .groupBy("doc_id", "term", "len").agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "len")

  /** Postings (raw) + corpus stats (nd, sumlen) for the end-to-end form.
    * One tokenize pass behind a barrier feeds tf AND the stats row.
    */
  private def bm25Index(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bm25IndexOf(documents(s, d))

  private def bm25IndexOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val postings = docPostings(docs).barrier()
    val stats = postings.select("doc_id", "len").distinct()
      .agg(count(lit(1)).as("nd"), sum("len").as("sumlen"))
    (postings, stats)
  }

  /** Shared serving tail over RAW postings: derive df per term, broadcast
    * the query terms against the postings, score per matched term, fold
    * per (query, doc) in term order, rank.
    */
  private def bm25Serve(s: SparkSession, raw: DataFrame,
                        stats: DataFrame): DataFrame = {
    import s.implicits._
    bm25ServeWith(s, raw, stats,
      bmQueries.flatMap { case (id, ts) => ts.map(id -> _) }
        .toDF("query_id", "term"))
  }

  /** The serving tail over an EXPLICIT query table — shared by the
    * fixed-set serve and the data-parameterized probes (query sets
    * staged from the corpus, read from parquet, never compiled in).
    */
  private def bm25ServeWith(s: SparkSession, raw: DataFrame,
      stats: DataFrame, q: DataFrame,
      scoreSql: String = termScore("tf", "df", "len", "nd", "sumlen"))
      : DataFrame = {
    val dfx = raw.groupBy("term").agg(count(lit(1)).as("df"))
    val postings = raw.join(dfx, Seq("term"))
    val scored = broadcast(q).join(postings, Seq("term"))
      .crossJoin(broadcast(stats))
      .selectExpr("query_id", "doc_id", "term", s"$scoreSql AS sc")
    rankTopDocs(scored.groupBy("query_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("sc")))).as("tsc"))
      .selectExpr("query_id", "doc_id",
        "aggregate(transform(tsc, p -> p.sc), CAST(0 AS DOUBLE), (s, v) -> s + v) AS score"))
  }

  /** Bounded top-k rank over per-(query, doc) scores — shared by the
    * exhaustive and WAND serve tails. The former window form
    * (`row_number() OVER (PARTITION BY query_id ORDER BY …)`) sorts
    * each query's ENTIRE matched-doc set in one task: parallelism =
    * |queries|, per-task state = |matched docs| — fine on gated
    * corpora, a cliff at scale (the sf100 probe measured the serve at
    * 2.9 s over 500k docs → 327 s over 5M: near-stopword query terms
    * match most of the corpus, so eight single-task multi-million-row
    * sorts spill). [[graft.functions.TopKByScore]] keeps the k best in
    * the aggregation buffer itself — partial+final HashAggregate, O(k)
    * state per group, below-threshold docs never shuffle — with the
    * window's exact tie discipline (score DESC, doc_id ASC), so the
    * output is bit-identical and every oracle is unchanged.
    */
  private def rankTopDocs(perDoc: DataFrame): DataFrame = {
    val s = perDoc.sparkSession
    import s.implicits._
    // the typed-aggregator path casts query_id→int / doc_id→long; on a
    // non-numeric id column that cast yields nulls and silently corrupts
    // tie-ordering — fail loudly instead (a string-id pipeline must map
    // ids to integers before serving)
    val tps = perDoc.schema.fields.map(f => f.name -> f.dataType).toMap
    def numeric(c: String) = tps.get(c).exists(
      _.isInstanceOf[org.apache.spark.sql.types.NumericType])
    require(numeric("query_id") && numeric("doc_id"),
      s"rankTopDocs requires numeric query_id/doc_id, got " +
        s"query_id=${tps.get("query_id")}, doc_id=${tps.get("doc_id")}")
    val agg = graft.functions.TopKByScore(TOPK).toColumn
    perDoc.select(col("query_id").cast("int"), col("score"),
        col("doc_id").cast("long"))
      .as[(Int, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, sc, id) => (sc, id) }
      .agg(agg.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("doc_id"),
        col("col._1").as("score"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** End-to-end BM25: tokenize → index → serve in one plan. */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val (postings, stats) = bm25Index(s, d)
    bm25Serve(s, postings, stats)
  }

  // --------------------------------------------- WAND / MaxScore pruning

  /** Per-term serving metadata for WAND-style pruned top-k (Broder et
    * al. 2003; the MaxScore batch variant implemented here): each term's
    * document frequency and its score UPPER BOUND — the max per-posting
    * BM25 contribution under the build-time stats. |vocab| rows of three
    * columns, term-bucketed like the postings so a query's serve reads
    * only its terms' buckets. Derived at BUILD time (a real index stores
    * this beside the postings); a mutated store (append/delete) must
    * refresh it before the pruned serve is used — the exhaustive serve
    * stays correct regardless.
    */
  private def termMetaOf(postings: DataFrame, stats: DataFrame): DataFrame =
    // ONE pass over the postings (r21 optimization): df and the max
    // tf-normalization aggregate together per term, and the df-only idf
    // factor multiplies the max afterwards — bit-identical to maxing the
    // full per-posting score (idf > 0 is constant per term, see
    // [[termIdfPart]]), at one corpus-wide aggregation instead of a df
    // aggregation PLUS a full-postings join + re-aggregation (the former
    // shape shuffled the 10⁷-row posting stream twice).
    postings.crossJoin(broadcast(stats))
      .selectExpr("term",
        s"${termTfPart("tf", "len", "nd", "sumlen")} AS tfn")
      .groupBy("term").agg(count(lit(1)).as("df"), max("tfn").as("mtfn"))
      .crossJoin(broadcast(stats))
      .selectExpr("term", "df", s"(${termIdfPart("df", "nd")} * mtfn) AS ub")

  /** The MaxScore-pruned serve, bit-equal to the exhaustive ranking by
    * construction:
    *
    *  1. HEAD pass — score every query term's postings EXCEPT the
    *     query's weakest term (minimum stored upper bound). The k-th
    *     best per-doc partial SUM is a valid lower bound θ̂ of the true
    *     k-th best score (every term contribution is positive, so a
    *     partial sum never exceeds the full score);
    *  2. TAIL pass — the weakest term's postings are scored only for
    *     docs the head pass already touched WHEN its upper bound sits
    *     below θ̂: a doc matching ONLY that term scores ≤ ub < θ̂ and
    *     cannot rank. (θ̂ absent, or ub ≥ θ̂ ⇒ no pruning — degrades to
    *     exhaustive, still exact.)
    *  3. the fold/rank tail runs over head ∪ tail rows — head scores
    *     are REUSED, never recomputed, so the per-(query, doc, term)
    *     score evaluations are strictly fewer than exhaustive whenever
    *     any tail-only doc was pruned ([[bm25WandCounts]], pinned in
    *     the spec).
    *
    * df for scoring is derived at read time exactly as the exhaustive
    * serve derives it, so matched scores are bit-identical; the stored
    * meta upper bounds only drive pruning.
    */
  private def bm25WandServe(s: SparkSession, raw: DataFrame,
      stats: DataFrame, meta: DataFrame): DataFrame = {
    val (head, tail) = bm25WandParts(s, raw, stats, meta)
    bm25WandFold(head, tail)
  }

  /** The shared fold/rank tail over head ∪ tail scored rows. */
  private def bm25WandFold(head: DataFrame, tail: DataFrame): DataFrame =
    rankTopDocs(head.unionByName(tail).groupBy("query_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("sc")))).as("tsc"))
      .selectExpr("query_id", "doc_id",
        "aggregate(transform(tsc, p -> p.sc), CAST(0 AS DOUBLE), (s, v) -> s + v) AS score"))

  /** The pruning pipeline shared by the serve and the counted-postings
    * audit: (head-pass scored rows, pruned tail-pass scored rows) —
    * their union is the fold input, their row counts the evaluations
    * paid.
    */
  private def bm25WandParts(s: SparkSession, raw: DataFrame,
      stats: DataFrame, meta: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    bm25WandPartsWith(s, raw, stats, meta,
      bmQueries.flatMap { case (id, ts) => ts.map(id -> _) }
        .toDF("query_id", "term"))
  }

  private def bm25WandPartsWith(s: SparkSession, raw: DataFrame,
      stats: DataFrame, meta: DataFrame, q: DataFrame,
      scoreSql: String = termScore("tf", "df", "len", "nd", "sumlen"))
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val qmeta = broadcast(q).join(meta.select("term", "ub"), Seq("term"))
    val weakest = qmeta
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("ub"), desc("term"))))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("term"), col("ub").as("w_ub"))
    val headTerms = qmeta
      .join(weakest.select("query_id", "term"),
        Seq("query_id", "term"), "left_anti")
      .select("query_id", "term")
    val dfx = raw.groupBy("term").agg(count(lit(1)).as("df"))
    val postings = raw.join(dfx, Seq("term"))
    def scoreOf(qt: DataFrame): DataFrame =
      broadcast(qt).join(postings, Seq("term"))
        .crossJoin(broadcast(stats))
        .selectExpr("query_id", "doc_id", "term", s"$scoreSql AS sc")
    // materialized ONCE (r21): the scored head pass — the expensive side
    // of the algorithm (it scores every non-weakest posting; under the
    // expensive re-ranker each row pays the depth-512 md5 chain) — is
    // consumed by THREE differently-keyed subtrees (the θ̂ top-k, the
    // head-docs distinct feeding the tail prune, and the final fold), and
    // none of their exchanges are reusable, so the un-materialized form
    // re-ran the scoring scan once per consumer. O(matched head
    // postings) rows — exactly what the fold must shuffle anyway.
    val head = graft.Checkpoint.barrier(scoreOf(headTerms))
    // θ̂ = the TOPK-th best per-doc partial sum — the same bounded
    // aggregation as the serve tail (rankTopDocs), NOT a rank window:
    // the head pass scores every non-weakest posting, so a per-query
    // sort window here re-creates the sf100 serve cliff in the
    // estimator. θ̂ exists only when ≥ TOPK docs scored (the filter the
    // window's rk === TOPK expressed); ties (part DESC, doc_id ASC)
    // identical.
    val aggK = graft.functions.TopKByScore(TOPK).toColumn
    import s.implicits._
    val theta = head.groupBy("query_id", "doc_id").agg(sum("sc").as("part"))
      .select(col("query_id").cast("int"), col("part"),
        col("doc_id").cast("long"))
      .as[(Int, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, p, id) => (p, id) }
      .agg(aggK.name("top"))
      .toDF("query_id", "top")
      .filter(size(col("top")) === TOPK)
      .select(col("query_id"),
        element_at(col("top"), TOPK).getField("_1").as("theta"))
    // the weakest term's postings, restricted BEFORE the score
    // expression runs: when θ̂ prunes, only head-touched docs survive
    val wdec = weakest.join(theta, Seq("query_id"), "left")
    val headDocs = head.select("query_id", "doc_id").distinct()
      .withColumn("in_head", lit(true))
    val tail = broadcast(wdec).join(postings, Seq("term"))
      .join(headDocs, Seq("query_id", "doc_id"), "left")
      .filter(col("theta").isNull || col("w_ub") >= col("theta") ||
        col("in_head"))
      .crossJoin(broadcast(stats))
      .selectExpr("query_id", "doc_id", "term", s"$scoreSql AS sc")
    (head, tail)
  }

  /** WAND-pruned top-k served from the persisted index — gated against
    * the SAME oracle as the exhaustive `q_bm25_topk`: the pruning must
    * be invisible in the answer.
    */
  def bm25Wand(s: SparkSession, d: String): DataFrame =
    bm25WandServed(s, ensureBm25Index(s, d))

  // ------------------------------------------ data-parameterized queries

  /** BM25 queries derived FROM the corpus (the r15 phrase/NEAR-param
    * pattern applied to the ranked-retrieval family): the 5th–12th most
    * document-frequent terms (skipping the 4 most common — the
    * near-stopword band where every doc matches), paired into 4
    * two-term queries in (df DESC, term ASC) order. The top-12 pick is
    * a TakeOrderedAndProject (distributed top-k, no global sort); the
    * rank window runs over those 12 rows only.
    */
  private[graft] def derivedBm25Queries(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docPostings(documents(s, d))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("term")).limit(12)
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("df"), asc("term"))))
      .filter(col("rk") >= 5)
      .selectExpr("CAST((rk - 5) DIV 2 AS INT) + 1 AS query_id", "term")
  }

  /** Stage the derived query set (build-once per corpus fingerprint,
    * atomic publish) — the probes read queries from THIS file, never
    * from code.
    */
  private def stageBm25Queries(s: SparkSession, d: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_queries_v1_" +
      CurationOps.docsFingerprint(d)
    publishOnce(dir)(tmp =>
      derivedBm25Queries(s, d).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/queries"))
  }

  /** The staged query table + the persisted index's stores pruned to
    * the staged terms' buckets (the bucket IN-list computed by a tiny
    * Spark job over the query table, so it uses Spark's own hash —
    * the same PartitionFilters device as the fixed-set serve).
    */
  private def stagedBm25Inputs(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dir = ensureBm25Index(s, d)
    bucketPrunedInputs(s, dir,
      s.read.parquet(s"${stageBm25Queries(s, d)}/queries"))
  }

  /** An index dir's stores pruned to an explicit query table's term
    * buckets — shared by the corpus-derived probes and the Zipf-staged
    * crossover serves.
    */
  private def bucketPrunedInputs(s: SparkSession, dir: String,
      q: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val buckets = q.selectExpr("CAST(abs(hash(term)) % 16 AS INT) AS b")
      .distinct().collect().map(_.getInt(0))
    (q,
      s.read.parquet(s"$dir/postings")
        .filter(col("tb").isin(buckets.toSeq: _*)).drop("tb", "batch"),
      s.read.parquet(s"$dir/stats"),
      s.read.parquet(s"$dir/termmeta")
        .filter(col("tb").isin(buckets.toSeq: _*)).drop("tb"))
  }

  /** Exhaustive BM25 for the STAGED query set, served from the index. */
  def bm25Param(s: SparkSession, d: String): DataFrame = {
    val (q, raw, stats, _) = stagedBm25Inputs(s, d)
    bm25ServeWith(s, raw, stats, q)
  }

  /** WAND-pruned serve for the SAME staged set — same oracle as
    * [[bm25Param]]: pruning stays answer-invisible on a data-derived
    * workload, not just the compiled demo set.
    */
  def bm25WandParam(s: SparkSession, d: String): DataFrame = {
    val (q, raw, stats, meta) = stagedBm25Inputs(s, d)
    val (head, tail) = bm25WandPartsWith(s, raw, stats, meta, q)
    bm25WandFold(head, tail)
  }

  // ---------------------------------------- Zipfian crossover staging

  /** The corpus shape where postings pruning EARNS its overhead: the
    * sf documents tables are frequency-flat (every query term matches
    * ~80% of docs, so ~3% of postings are prunable and the pruned
    * serve loses on bookkeeping — priced honestly in BENCH.md). Real
    * web/token corpora are Zipfian: a handful of near-stopwords carry
    * most postings while the informative terms are rare, and a query
    * mixing the two is exactly WAND's home game — the rare term's
    * lower-bound estimate θ̂ towers over the common term's upper bound,
    * so the common term's (huge) posting list is scored only for docs
    * the rare term already touched.
    *
    * This generator stages that regime DETERMINISTICALLY and
    * cross-engine: token ranks follow an inverse power-law CDF,
    * r = floor(1/t²) with t = (1/√V − 1)·u + 1 and u a 60-bit md5
    * uniform ([[TextExprs.hash60]] — the repo's paired-spelling
    * device), clamped to [1, V]. Every arithmetic step is +, −, ×, ÷,
    * sqrt — all IEEE correctly-rounded in both engines, no
    * transcendentals (the s = 3/2 Zipf exponent is chosen exactly so
    * the inverse CDF's power is the rational t⁻²) — so Spark and the
    * DuckDB oracle generate the IDENTICAL corpus and the gates
    * hash-compare as usual.
    */
  /** The per-token Zipf draw (Spark spelling) — the lambda body shared
    * by the text generator and the direct token generator; `j` is the
    * position variable bound by the enclosing transform.
    */
  private def zipfTokExprSpark(vocab: Int): String = {
    val two60 = "CAST(1152921504606846976 AS DOUBLE)" // 2^60
    val sparkKey = "concat('zipf', CAST(doc_id AS STRING), '_', CAST(j AS STRING))"
    val uS = s"(CAST(${TextExprs.hash60(sparkKey).spark} AS DOUBLE) / $two60)"
    val c = s"(CAST(1 AS DOUBLE) / sqrt(CAST($vocab AS DOUBLE)))"
    val t = s"(($c - CAST(1 AS DOUBLE)) * $uS + CAST(1 AS DOUBLE))"
    val rank =
      s"least($vocab, greatest(1, CAST(floor(CAST(1 AS DOUBLE) / ($t * $t)) AS INT)))"
    s"concat('w', CAST($rank AS STRING))"
  }

  private[graft] def zipfText(vocab: Int, len: Int): TextExprs.X = {
    val two60 = "CAST(1152921504606846976 AS DOUBLE)" // 2^60
    def rank(u: String) = {
      val c = s"(CAST(1 AS DOUBLE) / sqrt(CAST($vocab AS DOUBLE)))"
      val t = s"(($c - CAST(1 AS DOUBLE)) * $u + CAST(1 AS DOUBLE))"
      s"least($vocab, greatest(1, CAST(floor(CAST(1 AS DOUBLE) / ($t * $t)) AS INT)))"
    }
    val duckKey = "'zipf' || CAST(doc_id AS VARCHAR) || '_' || CAST(j AS VARCHAR)"
    val uD = s"(CAST(${TextExprs.hash60(duckKey).duck} AS DOUBLE) / $two60)"
    TextExprs.X(
      spark = s"concat_ws(' ', transform(sequence(1, $len), " +
        s"j -> ${zipfTokExprSpark(vocab)}))",
      duck = s"array_to_string(list_transform(range(1, ${len + 1}), " +
        s"j -> 'w' || CAST(${rank(uD)} AS VARCHAR)), ' ')")
  }

  /** (docs, tokens/doc, vocab) for the GATE form (small: the DuckDB
    * oracle regenerates it per check) and the BENCH staging (large
    * enough that the pruned/exhaustive crossover is a wall-clock fact,
    * not a counted abstraction).
    */
  private[graft] val ZipfGate = (8000, 40, 4000)
  private[graft] val ZipfBench = (400000, 64, 30000)
  private val ZipfTailDf = 50

  private[graft] def zipfDocs(s: SparkSession, n: Int, len: Int,
      vocab: Int): DataFrame =
    s.range(1, n + 1L).toDF("doc_id")
      .selectExpr("doc_id", s"${zipfText(vocab, len).spark} AS text")

  /** The staging-side token generator: the IDENTICAL per-token draws as
    * [[zipfDocs]] (same hash, same rank arithmetic, same 'w'-prefix
    * spelling), emitted as (doc_id, len, term) rows directly — the
    * concat_ws-then-regex-split round trip of text-form staging does no
    * work here (every generated doc has exactly `len` whitespace-free
    * tokens), so the bench staging skips it. Gate forms keep the text
    * shape (the oracle re-derives them from text).
    */
  private[graft] def zipfTokens(s: SparkSession, n: Int, len: Int,
      vocab: Int): DataFrame =
    s.range(1, n + 1L).toDF("doc_id")
      .selectExpr("doc_id", s"CAST($len AS INT) AS len",
        s"explode(transform(sequence(1, $len), " +
          s"j -> ${zipfTokExprSpark(vocab)})) AS term")

  /** The staged-bench build off the token generator — postings, stats,
    * doclens and termmeta byte-identical to
    * `buildBm25IndexOn(s, zipfDocs(...), dir)`.
    */
  private[graft] def buildBm25ZipfIndex(s: SparkSession, n: Int, len: Int,
      vocab: Int, dir: String): Unit = {
    val p = docTokenPostings(zipfTokens(s, n, len, vocab)).barrier()
    buildBm25IndexOnPostings(s, p, dir)
    // the staged postings barrier (~26M rows) fed the three index writes,
    // all materialized to parquet above — release the corpus-sized blocks
    // at staging exit instead of holding them through the serves
    graft.Checkpoint.release(p)
  }

  /** The crossover query set, derived FROM the staged corpus: query i
    * pairs the i-th most document-frequent term (the near-stopword —
    * low idf, huge postings: the prunable side) with the i-th term by
    * |df − $ZipfTailDf| (the rare informative term whose top-k partial
    * sums set θ̂). Both picks are deterministic (df DESC / distance ASC,
    * term ASC tie-breaks) and re-derived identically by the oracle.
    */
  private[graft] def zipfQueriesOf(postings: DataFrame): DataFrame =
    zipfQueriesOfDf(postings.groupBy("term").agg(count(lit(1)).as("df")))

  /** The query derivation over an explicit per-term df table — what the
    * bench staging feeds from the just-written termmeta sidecar (term,
    * df) instead of re-aggregating the full postings a third time; df
    * values are identical by construction ([[termMetaOf]] counts the
    * same rows), so the derived query set is too.
    */
  private[graft] def zipfQueriesOfDf(dfx: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val heads = dfx.orderBy(desc("df"), asc("term")).limit(4)
      .withColumn("query_id", row_number().over(
        Window.orderBy(desc("df"), asc("term"))).cast("int"))
    val tails = dfx
      .orderBy(abs(col("df") - ZipfTailDf).asc, desc("df"), asc("term"))
      .limit(4)
      .withColumn("query_id", row_number().over(
        Window.orderBy(abs(col("df") - ZipfTailDf).asc, desc("df"),
          asc("term"))).cast("int"))
    heads.select("query_id", "term")
      .unionByName(tails.select("query_id", "term"))
  }

  /** Exhaustive BM25 over the generated Zipf corpus (gate form — the
    * corpus, queries and serve all derive in one plan; `d` unused).
    */
  def bm25Zipf(s: SparkSession, d: String): DataFrame = {
    val (n, l, v) = ZipfGate
    val (postings, stats) = bm25IndexOf(zipfDocs(s, n, l, v))
    bm25ServeWith(s, postings, stats, zipfQueriesOf(postings))
  }

  /** WAND over the same generated corpus and query set — same oracle:
    * pruning must be answer-invisible in the regime built to reward it.
    */
  def bm25ZipfWand(s: SparkSession, d: String): DataFrame = {
    val (n, l, v) = ZipfGate
    val (postings, stats) = bm25IndexOf(zipfDocs(s, n, l, v))
    val (head, tail) = bm25WandPartsWith(s, postings, stats,
      termMetaOf(postings, stats), zipfQueriesOf(postings))
    bm25WandFold(head, tail)
  }

  /** The benched pair: exhaustive vs pruned serve off the SAME staged
    * index (the bench stages `ZipfBench`-scale docs + the query table
    * per run), both bucket-pruned to the staged queries' terms.
    */
  private[graft] def bm25ZipfServed(s: SparkSession, dir: String): DataFrame = {
    val (q, raw, stats, _) =
      bucketPrunedInputs(s, dir, s.read.parquet(s"$dir/queries"))
    bm25ServeWith(s, raw, stats, q)
  }

  private[graft] def bm25ZipfWandServed(s: SparkSession,
      dir: String): DataFrame = {
    val (q, raw, stats, meta) =
      bucketPrunedInputs(s, dir, s.read.parquet(s"$dir/queries"))
    val (head, tail) = bm25WandPartsWith(s, raw, stats, meta, q)
    bm25WandFold(head, tail)
  }

  /** Exhaustive EXPENSIVE-scorer serve on the generated Zipf corpus
    * (gate form): every matched posting pays the depth-ExpensiveDepth re-scorer.
    */
  def bm25ZipfExpensive(s: SparkSession, d: String): DataFrame = {
    val (n, l, v) = ZipfGate
    val (postings, stats) = bm25IndexOf(zipfDocs(s, n, l, v))
    bm25ServeWith(s, postings, stats, zipfQueriesOf(postings),
      expensiveScoreSpark("tf", "df", "len", "nd", "sumlen"))
  }

  /** MaxScore-pruned expensive serve, same oracle: the boost is < 1, so
    * the stored BM25 bounds still dominate every boosted contribution —
    * pruning stays answer-invisible while skipping exactly the postings
    * whose re-scoring cost it exists to avoid.
    */
  def bm25ZipfExpensiveWand(s: SparkSession, d: String): DataFrame = {
    val (n, l, v) = ZipfGate
    val (postings, stats) = bm25IndexOf(zipfDocs(s, n, l, v))
    val (head, tail) = bm25WandPartsWith(s, postings, stats,
      termMetaOf(postings, stats), zipfQueriesOf(postings),
      expensiveScoreSpark("tf", "df", "len", "nd", "sumlen"))
    bm25WandFold(head, tail)
  }

  /** The benched expensive serve off the staged Zipf index — the
    * priced form of the r17 "asserted, not measured" claim (its
    * exhaustive twin is gate-only, BENCH.md's expensive-scorer table).
    */
  private[graft] def bm25ZipfExpensiveWandServed(s: SparkSession,
      dir: String): DataFrame = {
    val (q, raw, stats, meta) =
      bucketPrunedInputs(s, dir, s.read.parquet(s"$dir/queries"))
    val (head, tail) = bm25WandPartsWith(s, raw, stats, meta, q,
      expensiveScoreSpark("tf", "df", "len", "nd", "sumlen"))
    bm25WandFold(head, tail)
  }

  /** Evaluation accounting on the GATE-scale generated corpus — the
    * spec pins that pruning in this regime is dramatic, not marginal.
    */
  private[graft] def bm25ZipfGateCounts(s: SparkSession): (Long, Long) = {
    val (n, l, v) = ZipfGate
    val (postings, stats) = bm25IndexOf(zipfDocs(s, n, l, v))
    val q = zipfQueriesOf(postings)
    val exhaustive = broadcast(q).join(postings, Seq("term")).count()
    val (head, tail) = bm25WandPartsWith(s, postings, stats,
      termMetaOf(postings, stats), q)
    (exhaustive, head.count() + tail.count())
  }

  /** Evaluation accounting on the staged Zipf index — the counted form
    * of the crossover story beside the wall-clock rows.
    */
  private[graft] def bm25ZipfCounts(s: SparkSession, dir: String): (Long, Long) = {
    val (q, raw, stats, meta) =
      bucketPrunedInputs(s, dir, s.read.parquet(s"$dir/queries"))
    val exhaustive = broadcast(q).join(raw, Seq("term")).count()
    val (head, tail) = bm25WandPartsWith(s, raw, stats, meta, q)
    (exhaustive, head.count() + tail.count())
  }

  private[graft] def bm25WandServed(s: SparkSession, dir: String): DataFrame =
    bm25Tombstones(s, dir) match {
      case Some(t) => bm25WandServedMasked(s, dir, t)
      case None =>
        val (raw, stats, meta) = bm25WandStores(s, dir)
        bm25WandServe(s, raw, stats, meta)
    }

  /** WAND over a TOMBSTONED store — pruned serving without forcing a
    * compaction first (at scale, compaction is the expensive op; a
    * pending delete should not disable the cheap serve path).
    *
    * A pending delete shifts every surviving score through the derived
    * globals (nd, avgdl shrink; read-time df shrinks for masked terms),
    * so the STORED upper bounds no longer bound. Rather than recomputing
    * them from the postings (a full pass over the weakest term's bucket
    * — exactly the read pruning exists to avoid), the stored bound is
    * inflated by a provable per-term factor. For any surviving posting p
    * of term t, with build-time globals (df, nd, avgdl) and masked
    * globals (df′, nd′, avgdl′):
    *
    *   sc′(p) = sc(p) · [idf(df′,nd′)/idf(df,nd)]
    *                  · [tfnorm(p;avgdl′)/tfnorm(p;avgdl)]
    *
    * The idf ratio is term-constant and exactly computable (df is stored
    * in the term metadata; df′ derives from the masked postings the head
    * pass reads anyway). The tfnorm ratio is posting-dependent but
    * bounded: tfnorm = tf(k1+1)/(tf + k1(1−b) + k1·b·len/avgdl), so the
    * ratio is a quotient of those denominators and its supremum over
    * tf ≥ 1, len ≥ 1 is max(1, avgdl′/avgdl) (approached only as
    * len → ∞, giving a real analytic margin over float rounding). Hence
    *
    *   ub′(t) = ub(t) · idf(df′,nd′)/idf(df,nd) · max(1, avgdl′/avgdl)
    *
    * dominates every surviving posting's masked score: pruning on ub′ is
    * answer-invisible, bit-equal to the masked exhaustive serve (gated:
    * `q_bm25_wand_deleted` against the survivors oracle). A term whose
    * postings are fully tombstoned drops out of the metadata join — it
    * contributes 0 to every doc in the exhaustive serve, so excluding it
    * from head/weakest selection is exact.
    */
  private def bm25WandServedMasked(s: SparkSession, dir: String,
      t: DataFrame): DataFrame = {
    val (postings, stats, meta) = bm25MaskedStores(s, dir, t)
    bm25WandServe(s, postings, stats, meta)
  }

  /** The masked store triple (surviving postings, adjusted stats,
    * adjusted term metadata) behind the tombstoned pruned serve — shared
    * with the spec's evaluation-count audit.
    */
  private[graft] def bm25MaskedStores(s: SparkSession, dir: String,
      t: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (postingsRaw, statsRaw, metaRaw) = bm25WandStores(s, dir)
    val adj = t.agg(count(lit(1)).as("n_del"),
      coalesce(sum("len"), lit(0L)).as("len_del"))
    val postings = postingsRaw
      .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti")
    val stats = statsRaw.crossJoin(broadcast(adj))
      .select((col("nd") - col("n_del")).as("nd"),
        (col("sumlen") - col("len_del")).as("sumlen"))
    // masked per-term df over the surviving postings — query-term
    // buckets only (postingsRaw is already bucket-pruned), so this is
    // the same data volume the head pass reads, not a corpus scan
    val dfx2 = postings.groupBy("term").agg(count(lit(1)).as("df2"))
    val meta = metaRaw.join(dfx2, Seq("term"))
      .crossJoin(broadcast(statsRaw
        .select(col("nd").as("nd0"), col("sumlen").as("sl0"))))
      .crossJoin(broadcast(stats
        .select(col("nd").as("nd1"), col("sumlen").as("sl1"))))
      .selectExpr("term",
        "ub * (((CAST(nd1 - df2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
          "(CAST(df2 AS DOUBLE) + CAST(0.5 AS DOUBLE))) / " +
          "((CAST(nd0 - df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
          "(CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))) * " +
          "greatest(CAST(1 AS DOUBLE), " +
          "(CAST(sl1 AS DOUBLE) / CAST(nd1 AS DOUBLE)) / " +
          "(CAST(sl0 AS DOUBLE) / CAST(nd0 AS DOUBLE))) AS ub")
    (postings, stats, meta)
  }

  /** Evaluation accounting for the TOMBSTONED pruned serve (the masked
    * twin of [[bm25WandCounts]]): (exhaustive, wand) per-(query, doc,
    * term) score evaluations over the masked store — the spec pins that
    * adjusted-bound pruning still strictly saves work while tombstones
    * are pending.
    */
  private[graft] def bm25WandDeletedCounts(s: SparkSession,
      d: String): (Long, Long) = {
    import s.implicits._
    val dir = bm25DeletedIndexDir(s, d, "delwc")
    val t = bm25Tombstones(s, dir).get
    val (postings, stats, meta) = bm25MaskedStores(s, dir, t)
    val q = bmQueries.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("query_id", "term")
    val exhaustive = broadcast(q).join(postings, Seq("term")).count()
    val (head, tail) = bm25WandPartsWith(s, postings, stats, meta, q)
    (exhaustive, head.count() + tail.count())
  }

  /** The delete lifecycle served through the PRUNED path with tombstones
    * still pending — same survivors oracle as the exhaustive
    * `q_bm25_delete`: adjusted-bound pruning must be answer-invisible
    * on the mutated store, no compaction required.
    */
  def bm25WandDeleted(s: SparkSession, d: String): DataFrame =
    bm25WandServed(s, bm25DeletedIndexDir(s, d, "delw"))

  private def bm25WandStores(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val qterms = bmQueries.flatMap(_._2).distinct
    val buckets = qterms.map(t => s"abs(hash('$t')) % 16").mkString(", ")
    (s.read.parquet(s"$dir/postings")
      .filter(expr(s"tb IN ($buckets)")).drop("tb", "batch"),
      s.read.parquet(s"$dir/stats"),
      s.read.parquet(s"$dir/termmeta")
        .filter(expr(s"tb IN ($buckets)")).drop("tb"))
  }

  /** Postings-scored accounting for the pruning claim: (exhaustive,
    * wand) counts of per-(query, doc, term) score evaluations on the
    * gated query set — wand = champion pass + candidate-restricted full
    * pass. The spec asserts wand < exhaustive strictly.
    */
  private[graft] def bm25WandCounts(s: SparkSession, d: String): (Long, Long) = {
    import s.implicits._
    val dir = ensureBm25Index(s, d)
    val (raw, stats, meta) = bm25WandStores(s, dir)
    val q = bmQueries.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("query_id", "term")
    val exhaustive = broadcast(q).join(raw, Seq("term")).count()
    val (champScores, scored) = bm25WandParts(s, raw, stats, meta)
    (exhaustive, champScores.count() + scored.count())
  }

  /** Persist the inverted index: postings parquet PARTITIONED BY a term
    * hash-bucket (so a query's terms prune to their buckets at read
    * time) + the 1-row stats table. The production shape: built once per
    * corpus version, served many times without touching `text`.
    */
  private[graft] def buildBm25Index(s: SparkSession, d: String,
      dir: String): Unit =
    buildBm25IndexOn(s, documents(s, d), dir)

  private[graft] def buildBm25IndexOn(s: SparkSession, docs: DataFrame,
      dir: String): Unit =
    buildBm25IndexOnPostings(s, docPostings(docs).barrier(), dir)

  /** The persist tail over an already-materialized postings relation —
    * shared by the document-table build and the token-relation build
    * ([[buildBm25ZipfIndex]]). r21 pass-count discipline: the barriered
    * postings are read exactly three times (postings write, doclens
    * distinct, termmeta aggregation); `stats` is derived from the
    * 2-column doclens sidecar just written instead of a second
    * corpus-wide distinct — identical values (doclens IS that distinct).
    */
  private[graft] def buildBm25IndexOnPostings(s: SparkSession,
      postings: DataFrame, dir: String): Unit = {
    // postings carry a second `batch` partition level (-1 = the build),
    // the same convention as the ANN cell stores: appended document
    // batches land in their own (tb, batch) partitions that a replayed
    // append dynamically overwrites instead of duplicating
    postings
      .withColumn("tb", (abs(hash(col("term"))) % 16).cast("int"))
      .withColumn("batch", lit(-1L))
      .write.mode("overwrite").partitionBy("tb", "batch")
      .parquet(s"$dir/postings")
    // doc-keyed length sidecar (doc_id, len): what a DELETE needs to
    // adjust the aggregated (nd, sumlen) without scanning term buckets —
    // a doc's postings are scattered across buckets by term, so without
    // this 2-column table every delete would pay a full index scan
    postings.select("doc_id", "len").distinct()
      .write.mode("overwrite").parquet(s"$dir/doclens")
    val stats = s.read.parquet(s"$dir/doclens")
      .agg(count(lit(1)).as("nd"), sum("len").as("sumlen"))
    stats.write.mode("overwrite").parquet(s"$dir/stats")
    // per-term (df, upper-bound) sidecar for the WAND-pruned serve —
    // term-bucketed like the postings so the pruned serve's metadata
    // read is itself partition-pruned to the query's buckets
    termMetaOf(postings, s.read.parquet(s"$dir/stats"))
      .withColumn("tb", (abs(hash(col("term"))) % 16).cast("int"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dir/termmeta")
  }

  /** The served form: score against the persisted index (auto-built once
    * per dataset fingerprint, like the ANN auto-indexes and the novelty
    * store) — bit-identical to the end-to-end form, same oracle. The
    * read plan touches only the term-buckets of the query's terms.
    */
  def bm25Indexed(s: SparkSession, d: String): DataFrame =
    bm25Served(s, ensureBm25Index(s, d))

  /** The fingerprint-keyed auto-index, built once and atomically
    * published. v3: layout version is part of the path — the fingerprint
    * tracks the DATA, not the index schema, so a layout change (v2: raw
    * postings + read-time df; v3: (tb, batch)-partitioned postings +
    * the WAND termmeta sidecar) must never read a store built by the
    * old writer.
    */
  private def ensureBm25Index(s: SparkSession, d: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_index_v3_" +
      CurationOps.docsFingerprint(d)
    publishOnce(dir)(buildBm25Index(s, d, _))
  }

  /** Build-once with ATOMIC publish: the store is built into a private
    * temp dir and renamed into the fingerprint-keyed location in one
    * filesystem move, so a concurrent JVM (this repo's expected usage —
    * parallel sbt sessions) can never observe a half-built store: the
    * shared dir either exists fully-built or not at all. Losing the
    * publish race is fine — the winner built from the same fingerprint,
    * so its store is equivalent and ours is dropped.
    */
  private def publishOnce(dir: String)(build: String => Unit): String =
    graft.StorePublish.publishOnce(dir)(build)

  /** Serve the fixed query set from an already-built index dir — the
    * probe the bench times separately from the build. Tombstoned docs
    * (if any delete happened) are masked out of BOTH reads: postings
    * (so the doc can't score) and the per-doc stats sidecar (so nd,
    * avgdl and every term's read-time df shrink exactly as if the doc
    * had never been indexed — BM25's globals are DERIVED here, which is
    * what makes doc deletion a pure set-minus).
    */
  private[graft] def bm25Served(s: SparkSession, dir: String): DataFrame = {
    val qterms = bmQueries.flatMap(_._2).distinct
    val buckets = qterms.map(t => s"abs(hash('$t')) % 16").mkString(", ")
    val postingsRaw = s.read.parquet(s"$dir/postings")
      // partition-prune to the query terms' buckets BEFORE the term join
      .filter(expr(s"tb IN ($buckets)"))
      .drop("tb", "batch")
    val statsRaw = s.read.parquet(s"$dir/stats")
    val (postings, stats) = bm25Tombstones(s, dir) match {
      case Some(t) =>
        // postings: set-minus mask (read-time df then shrinks for free);
        // stats: the aggregated (nd, sumlen) row minus the tombstones'
        // recorded (count, Σlen) — integer arithmetic, so the adjusted
        // globals are bit-identical to a never-indexed-the-victims build
        val adj = t.agg(count(lit(1)).as("n_del"),
          coalesce(sum("len"), lit(0L)).as("len_del"))
        (postingsRaw.join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"),
          statsRaw.crossJoin(broadcast(adj))
            .select((col("nd") - col("n_del")).as("nd"),
              (col("sumlen") - col("len_del")).as("sumlen")))
      case None => (postingsRaw, statsRaw)
    }
    bm25Serve(s, postings, stats)
  }

  /** Tombstone DELETE for the persisted inverted index — the document
    * sibling of the ANN store's delete (EmbeddingOps.deleteIvfPq):
    * O(|delete batch|) write of doc ids, batch-partitioned so a replay
    * overwrites itself; no postings lookup (a doc's terms live scattered
    * across term buckets — finding them eagerly would cost a full index
    * scan, exactly what tombstones avoid). Visible at the next serve via
    * the anti-join mask; [[compactBm25Index]] folds them physically.
    */
  private[graft] def deleteBm25Docs(s: SparkSession, ids: DataFrame,
      dir: String, batchId: Long): Unit =
    // inner-join the doc-keyed sidecar: records each victim's len (the
    // stats adjustment the serve needs) and silently no-ops ids that
    // were never indexed — deleting an absent doc must not shift nd
    ids.select(col("doc_id").cast("long").as("doc_id"))
      .join(s.read.parquet(s"$dir/doclens"), Seq("doc_id"))
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$dir/tombstones")

  private def bm25Tombstones(s: SparkSession, dir: String): Option[DataFrame] =
    if (new java.io.File(s"$dir/tombstones").exists())
      // distinct on (doc_id, len): a doc deleted by two batches must
      // count once in the stats adjustment
      Some(s.read.parquet(s"$dir/tombstones").select("doc_id", "len").distinct())
    else None

  /** Fold tombstones into the postings store and clear them. Postings:
    * the shared (tb, batch) partition fold ([[graft.Tombstones.fold]]) —
    * only the term-buckets holding a tombstoned doc's rows are rewritten,
    * so an appended batch's partitions stay untouched unless one of ITS
    * docs died. Stats: the per-doc sidecar is rewritten whole behind a
    * materialization barrier (it is |docs| rows of two ints — the
    * corpus-scaled object is the postings, not this).
    */
  private[graft] def compactBm25Index(s: SparkSession, dir: String): Unit =
    bm25Tombstones(s, dir).foreach { t =>
      graft.Tombstones.fold(s, s"$dir/postings", "doc_id", "tb", t): Unit
      // fold the adjustment into the aggregated stats row and shrink the
      // doc-keyed sidecar; both rewrites go through a materialization
      // barrier so the overwrite never reads the files it replaces
      val adj = t.agg(count(lit(1)).as("n_del"),
        coalesce(sum("len"), lit(0L)).as("len_del"))
      val newStats = graft.Checkpoint.barrier(
        s.read.parquet(s"$dir/stats").crossJoin(broadcast(adj))
          .select((col("nd") - col("n_del")).as("nd"),
            (col("sumlen") - col("len_del")).as("sumlen")))
      newStats.write.mode("overwrite").parquet(s"$dir/stats")
      val keptLens = graft.Checkpoint.barrier(
        s.read.parquet(s"$dir/doclens")
          .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
      keptLens.write.mode("overwrite").parquet(s"$dir/doclens")
      refreshBm25TermMeta(s, dir)
      graft.Scratch.rmTree(s"$dir/tombstones")
    }

  /** The delete-set convention of the gated BM25 lifecycle: every 7th
    * doc — ~14% of the corpus, which necessarily perturbs nd/avgdl (and
    * thus every surviving score) as well as evicting scored docs.
    */
  private val Bm25DeleteVictims = col("doc_id") % 7 === 3

  /** Append NEW documents' postings to the persisted index — with
    * [[deleteBm25Docs]] + [[compactBm25Index]] this composes into
    * document UPDATE. O(|batch|): the new postings append into their
    * term buckets, the one-row (nd, sumlen) stats adjust by integer
    * addition (bit-identical to a from-scratch build), and the doclens
    * sidecar is rewritten whole MINUS the appended ids' old rows (it is
    * |docs| rows of two ints — the same whole-rewrite judgment the
    * compaction makes) so a future delete of an updated doc subtracts
    * the LIVE length, not both versions'.
    *
    * Caller contract: an appended doc_id must not be live in the
    * postings store (tombstoned-then-compacted, or genuinely new) — the
    * serve's tombstone mask is by doc_id, so re-adding an id while its
    * tombstone is still pending would mask the new version too.
    */
  private[graft] def appendBm25Docs(s: SparkSession, docs: DataFrame,
      dir: String, batchId: Long): Unit = {
    val postings = docPostings(docs).barrier()
    val lens = postings.select("doc_id", "len").distinct()
    // batch-keyed dynamic overwrite — the repo's replay-idempotent
    // append convention (same as the ANN cell stores): a replayed or
    // retried call replaces its own (tb, batch) partitions instead of
    // appending a duplicate copy beside them
    postings
      .withColumn("tb", (abs(hash(col("term"))) % 16).cast("int"))
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("tb", "batch").parquet(s"$dir/postings")
    // doclens: anti-join + union is idempotent under replay (the same
    // lens replace themselves)
    val doclens = graft.Checkpoint.barrier(
      s.read.parquet(s"$dir/doclens")
        .join(broadcast(lens.select("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(lens))
    doclens.write.mode("overwrite").parquet(s"$dir/doclens")
    // stats: recomputed FROM the rewritten sidecar rather than
    // incremented in place — replay-idempotent, and a crash between the
    // three writes is healed by re-running the same call (each step
    // converges); integer aggregation over |docs| rows, bit-identical
    // to the incremental add (stats ≡ agg(doclens) is the store
    // invariant the lifecycle spec pins)
    graft.Checkpoint.barrier(
      s.read.parquet(s"$dir/doclens")
        .agg(count(lit(1)).cast("long").as("nd"),
          coalesce(sum("len"), lit(0L)).cast("long").as("sumlen")))
      .write.mode("overwrite").parquet(s"$dir/stats")
    refreshBm25TermMeta(s, dir)
  }

  /** Recompute the WAND metadata after a store mutation. Wholesale by
    * necessity, not laziness: appends move the GLOBAL stats (nd,
    * sumlen), and BM25's idf grows with nd — so every term's stored
    * upper bound can become an UNDER-bound, which breaks WAND's
    * correctness, not just its efficiency. One postings pass at WRITE
    * time (same cost class as the build's own metadata pass), off the
    * serve path.
    */
  private def refreshBm25TermMeta(s: SparkSession, dir: String): Unit = {
    val postings = s.read.parquet(s"$dir/postings").drop("tb", "batch")
    val stats = s.read.parquet(s"$dir/stats")
    graft.Checkpoint.barrier(termMetaOf(postings, stats))
      .withColumn("tb", (abs(hash(col("term"))) % 16).cast("int"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dir/termmeta")
  }

  /** Document UPDATE gated end to end: tombstone the old versions, fold
    * physically (clearing the doc_id tombstones so the re-added ids can
    * serve), append the new versions — the serve must equal BM25 over
    * the corpus as modified, including every global statistic and the
    * moved rankings (the update text appends two live QUERY terms, so
    * updated docs genuinely re-rank, not just re-normalize).
    */
  def bm25Updated(s: SparkSession, d: String): DataFrame =
    bm25Served(s, bm25UpdatedDir(s, d, "upd"))

  /** The same UPDATE lifecycle served through the WAND-pruned path —
    * exercising the termmeta refresh both mutations perform: compaction
    * and append each recompute the upper bounds, so the pruned serve
    * stays answer-identical on the modified corpus (same oracle as the
    * exhaustive update gate).
    */
  def bm25WandUpdated(s: SparkSession, d: String): DataFrame =
    bm25WandServed(s, bm25UpdatedDir(s, d, "updw"))

  private def bm25UpdatedDir(s: SparkSession, d: String, tag: String): String = {
    val dir = bm25DeletedIndexDir(s, d, tag)
    compactBm25Index(s, dir)
    appendBm25Docs(s, documents(s, d).filter(Bm25DeleteVictims)
      .selectExpr("doc_id", "concat(text, ' vector scan') AS text"), dir,
      batchId = 1L)
    dir
  }

  private def bm25DeletedIndexDir(s: SparkSession, d: String,
      tag: String): String = {
    // rebuilt and mutated in place on every call (build → delete
    // [→ compact → append]): a per-process dir, so one JVM never appends
    // onto another's fresh rebuild and serves wrong stats
    val dir = graft.Scratch.processDir(d, s"bm25_$tag")
    buildBm25Index(s, d, dir)
    deleteBm25Docs(s,
      documents(s, d).filter(Bm25DeleteVictims).select("doc_id"), dir, 0L)
    dir
  }

  /** Document deletion gated end to end: the tombstone-masked serve must
    * equal BM25 computed over the surviving corpus (the oracle's WHERE)
    * — including the global-statistics shift every surviving score
    * inherits.
    */
  def bm25Deleted(s: SparkSession, d: String): DataFrame =
    bm25Served(s, bm25DeletedIndexDir(s, d, "del"))

  /** Same lifecycle + physical compaction before the serve: identical
    * answer, tombstone-free store.
    */
  def bm25DeletedCompacted(s: SparkSession, d: String): DataFrame = {
    val dir = bm25DeletedIndexDir(s, d, "delc")
    compactBm25Index(s, dir)
    bm25Served(s, dir)
  }

  // ------------------------------------------- incremental index (stream)

  /** One streamed micro-batch of inverted-index maintenance,
    * EXACTLY-ONCE: derive the batch's raw postings, UNION them onto the
    * committed postings (append-only — df lives at read time, so there
    * is no read-modify-write), add the batch's (docs, tokens) counts
    * onto the committed stats (integer addition: associative, so the
    * maintained stats are bit-identical to the one-shot scan), stage
    * and atomically advance the commit pointer (graft.etl.StoreCommit).
    * A replayed batch is skipped at the batchId watermark; a crashed
    * batch re-stages over its own partial files.
    */
  private[graft] def bm25ApplyBatch(s: SparkSession, stateDir: String,
      batch: DataFrame, batchId: Long): Unit = {
    import graft.etl.StoreCommit
    val prior = StoreCommit.committed(stateDir)
    if (prior.exists(_._2 >= batchId)) return // replay of a committed batch
    val part = docPostings(batch).barrier()
    val pStats = part.select("doc_id", "len").distinct()
      .agg(count(lit(1)).as("nd"), sum("len").as("sumlen"))
    val (post, stats) = prior match {
      case Some((dir, _)) =>
        val oldPost = s.read.parquet(s"$stateDir/$dir/postings")
        val oldStats = s.read.parquet(s"$stateDir/$dir/stats")
        (part.unionByName(oldPost),
          pStats.unionByName(oldStats)
            .agg(sum("nd").as("nd"), sum("sumlen").as("sumlen")))
      case None => (part, pStats)
    }
    post.write.mode("overwrite").parquet(s"$stateDir/idx_b$batchId/postings")
    stats.write.mode("overwrite").parquet(s"$stateDir/idx_b$batchId/stats")
    StoreCommit.commit(stateDir, s"idx_b$batchId", batchId)
    StoreCommit.cleanupStale(stateDir, "idx_b")
  }

  /** Postings-store COMPACTION — the small-file maintenance the
    * append-only index needs: every micro-batch leaves its own parquet
    * files, so after N batches a serve pays N file opens per partition.
    * Compaction rewrites the committed postings clustered by term
    * (repartition on term + sortWithinPartitions) into a bounded file
    * count, staged + committed under the SAME batch watermark — a crash
    * mid-compaction leaves the uncompacted store live, and replays
    * still dedup. Postings rows are immutable facts (unlike the CDC
    * log there is nothing to supersede), so compaction is purely a
    * layout rewrite; the served result must be bit-identical.
    */
  private[graft] def bm25CompactStore(s: SparkSession, stateDir: String,
      nFiles: Int = 4): Unit = {
    import graft.etl.StoreCommit
    val (dir, last) = StoreCommit.committed(stateDir).getOrElse(
      throw new IllegalStateException(s"bm25 state not initialized: $stateDir"))
    s.read.parquet(s"$stateDir/$dir/postings")
      .repartition(nFiles, col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$stateDir/idx_compact$last/postings")
    s.read.parquet(s"$stateDir/$dir/stats")
      .write.mode("overwrite").parquet(s"$stateDir/idx_compact$last/stats")
    StoreCommit.commit(stateDir, s"idx_compact$last", last)
    StoreCommit.cleanupStale(stateDir, "idx_")
  }

  /** Serve the fixed query set from the maintained store — same tail as
    * the one-shot form, so the streamed result is gated against the
    * identical oracle.
    */
  private[graft] def bm25ReadState(s: SparkSession, stateDir: String): DataFrame = {
    val (dir, _) = graft.etl.StoreCommit.committed(stateDir).getOrElse(
      throw new IllegalStateException(s"bm25 state not initialized: $stateDir"))
    bm25Serve(s, s.read.parquet(s"$stateDir/$dir/postings"),
      s.read.parquet(s"$stateDir/$dir/stats"))
  }

  // --------------------------------------------------- hybrid retrieval

  /** Hybrid lexical+dense retrieval via Reciprocal Rank Fusion:
    * rrf(d) = Σ_lists 1/(60 + rank_list(d)) over the BM25 top-k and the
    * dense (brute cosine) top-k for the same query ids — the standard
    * fusion for "BM25 recalls exact wording, embeddings recall
    * paraphrase" retrieval stacks, and the production shape for mining
    * training subsets with both signals. Queries pair by id: BM25 query
    * i fuses with the ANN query whose vector is vec_id i (documents and
    * embeddings share the 0..N id space in the testdata).
    *
    * RRF consumes RANKS only (the integer position, never the raw
    * scores), so fusing two differently-scaled scorers needs no score
    * normalization — and the fused value is two exact double divisions
    * plus one two-term sum, bit-exact across engines by construction.
    * Absent-from-list is pinned as rank 0 (sentinel) so the output
    * carries no nullable ints (which round-trip differently through the
    * two pandas bridges).
    *
    * Scale shape: both inputs are already bounded top-k lists (O(queries
    * × k) rows), so the fusion join + re-rank is driver-free,
    * broadcast-sized work regardless of corpus size.
    */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qids = bmQueries.map(_._1)
    val lex = bm25TopK(s, d)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = graft.sim.EmbeddingOps.annBruteForce(s, d)
      .filter(col("query_id").isin(qids.map(_.toLong): _*))
      .select(col("query_id").cast("int").as("query_id"),
        col("vizinho").as("doc_id"), col("rank").as("dense_rank"))
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .na.fill(0, Seq("lex_rank", "dense_rank"))
      .selectExpr("query_id", "doc_id", "lex_rank", "dense_rank",
        "CASE WHEN lex_rank > 0 THEN CAST(1 AS DOUBLE) / CAST(60 + lex_rank AS DOUBLE) ELSE CAST(0 AS DOUBLE) END + " +
          "CASE WHEN dense_rank > 0 THEN CAST(1 AS DOUBLE) / CAST(60 + dense_rank AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS rrf")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id")))
        .cast("int"))
      .orderBy("query_id", "rank")
  }

  private def hybridOracle: String = {
    val vals = bmQueries
      .flatMap { case (id, ts) => ts.map(t => s"($id, '$t')") }
      .mkString(", ")
    val qids = bmQueries.map(_._1).mkString(", ")
    val dotQC = dot("q.embedding", "c.embedding", 64).duck
    s"""WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS t FROM documents),
lens AS (SELECT doc_id, len(t) AS len FROM toks),
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS nd, sum(len) AS sumlen FROM lens),
q(query_id, term) AS (VALUES $vals),
ts AS (
  SELECT q.query_id, tf.doc_id, q.term,
         ${termScore("tf.tf", "dfx.df", "l.len", "stats.nd", "stats.sumlen")} AS sc
  FROM q
  JOIN tf ON q.term = tf.term
  JOIN dfx ON q.term = dfx.term
  JOIN lens l ON tf.doc_id = l.doc_id
  CROSS JOIN stats),
lagg AS (
  SELECT query_id, doc_id, list_sum(list(sc ORDER BY term)) AS score
  FROM ts GROUP BY 1, 2),
lex AS (
  SELECT query_id, doc_id, lex_rank FROM (
    SELECT query_id, doc_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS lex_rank
    FROM lagg)
  WHERE lex_rank <= $TOPK),
vbase AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         sqrt(${dot("embedding", "embedding", 64).duck}) AS nrm
  FROM embeddings),
vsims AS (
  SELECT CAST(q.vec_id AS INTEGER) AS query_id, c.vec_id AS doc_id,
         $dotQC / (q.nrm * c.nrm) AS sim
  FROM vbase q CROSS JOIN vbase c
  WHERE q.vec_id IN ($qids) AND q.vec_id <> c.vec_id),
dense AS (
  SELECT query_id, doc_id, dense_rank FROM (
    SELECT query_id, doc_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY sim DESC, doc_id) AS INTEGER) AS dense_rank
    FROM vsims)
  WHERE dense_rank <= 5),
fused AS (
  SELECT coalesce(l.query_id, de.query_id) AS query_id,
         coalesce(l.doc_id, de.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0) AS lex_rank,
         coalesce(de.dense_rank, 0) AS dense_rank
  FROM lex l FULL OUTER JOIN dense de
    ON l.query_id = de.query_id AND l.doc_id = de.doc_id),
scored AS (
  SELECT query_id, doc_id, lex_rank, dense_rank,
         CASE WHEN lex_rank > 0 THEN CAST(1 AS DOUBLE) / CAST(60 + lex_rank AS DOUBLE) ELSE CAST(0 AS DOUBLE) END +
         CASE WHEN dense_rank > 0 THEN CAST(1 AS DOUBLE) / CAST(60 + dense_rank AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS rrf
  FROM fused)
SELECT query_id, doc_id, lex_rank, dense_rank, rrf,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
FROM scored
ORDER BY query_id, rank"""
  }

  // ------------------------------------------------------------- oracle

  private def bm25Oracle: String = bm25OracleOver("TRUE")

  /** The BM25 oracle over a corpus SLICE — "TRUE" for the full corpus,
    * the survivor predicate for the delete-lifecycle gates (deletion
    * must behave as if the docs were never indexed, globals included).
    */
  private def bm25OracleOver(surviving: String): String = bm25OracleFrom(
    s"SELECT doc_id, text FROM documents WHERE $surviving")

  /** The update-lifecycle oracle: BM25 over the corpus AS MODIFIED —
    * the tombstone+compact+append composition must be indistinguishable
    * from an index built on the new document versions.
    */
  private def bm25UpdateOracle: String = bm25OracleFrom(
    "SELECT doc_id, CASE WHEN doc_id % 7 = 3 " +
      "THEN text || ' vector scan' ELSE text END AS text FROM documents")

  /** The oracle body over an arbitrary (doc_id, text) source, with the
    * query CTE swappable (fixed VALUES by default; the param gates
    * inject the corpus-derived set, re-derived in SQL).
    */
  private def bm25OracleFrom(docSrc: String): String = {
    val vals = bmQueries
      .flatMap { case (id, ts) => ts.map(t => s"($id, '$t')") }
      .mkString(", ")
    bm25OracleWith(docSrc, s"q(query_id, term) AS (VALUES $vals)")
  }

  /** The corpus-derived query CTE: 5th–12th most document-frequent
    * terms paired into 4 two-term queries — the SQL twin of
    * [[derivedBm25Queries]] (dfx is already in the oracle chain).
    */
  private def bm25ParamQCte: String =
    s"""q AS (
  SELECT CAST((rk - 5) // 2 + 1 AS INTEGER) AS query_id, term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS rk
    FROM dfx)
  WHERE rk >= 5 AND rk <= 12)"""

  private def bm25ParamOracle: String =
    bm25OracleWith("SELECT doc_id, text FROM documents", bm25ParamQCte)

  /** The Zipf gates' oracle: DuckDB REGENERATES the corpus from the
    * identical paired expression, re-derives the same head/tail query
    * set from dfx, and runs the standard BM25 chain.
    */
  private def zipfOracle: String = {
    val (docSrc, qCte) = zipfOracleParts
    bm25OracleWith(docSrc, qCte)
  }

  /** The expensive-scorer twin: identical corpus/query derivation, the
    * ts CTE scored through the same depth-ExpensiveDepth md5-chain boost (the hex
    * chain is bit-identical across engines).
    */
  private def zipfExpensiveOracle: String = {
    val (docSrc, qCte) = zipfOracleParts
    bm25OracleWith(docSrc, qCte, expensiveScoreDuck("tf.tf", "dfx.df",
      "l.len", "stats.nd", "stats.sumlen"))
  }

  private def zipfOracleParts: (String, String) = {
    val (n, l, v) = ZipfGate
    val docSrc = s"SELECT doc_id, ${zipfText(v, l).duck} AS text " +
      s"FROM range(1, ${n + 1}) t(doc_id)"
    val qCte =
      s"""q AS (
  SELECT CAST(row_number() OVER (ORDER BY df DESC, term ASC) AS INTEGER) AS query_id, term
  FROM (SELECT term, df FROM dfx ORDER BY df DESC, term ASC LIMIT 4) h
  UNION ALL
  SELECT CAST(row_number() OVER (ORDER BY abs(df - $ZipfTailDf) ASC, df DESC, term ASC) AS INTEGER) AS query_id, term
  FROM (SELECT term, df FROM dfx ORDER BY abs(df - $ZipfTailDf) ASC, df DESC, term ASC LIMIT 4) tl)"""
    (docSrc, qCte)
  }

  private def bm25OracleWith(docSrc: String, qCte: String,
      scoreSql: String = termScore("tf.tf", "dfx.df", "l.len",
        "stats.nd", "stats.sumlen")): String = {
    s"""WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS t
  FROM ($docSrc)),
lens AS (SELECT doc_id, len(t) AS len FROM toks),
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS nd, sum(len) AS sumlen FROM lens),
$qCte,
ts AS (
  SELECT q.query_id, tf.doc_id, q.term,
         $scoreSql AS sc
  FROM q
  JOIN tf ON q.term = tf.term
  JOIN dfx ON q.term = dfx.term
  JOIN lens l ON tf.doc_id = l.doc_id
  CROSS JOIN stats),
agg AS (
  SELECT query_id, doc_id,
         list_sum(list(sc ORDER BY term)) AS score
  FROM ts GROUP BY 1, 2),
r AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
  FROM agg)
SELECT query_id, doc_id, score, rank FROM r
WHERE rank <= $TOPK
ORDER BY query_id, rank"""
  }

  // ------------------------------------------------------ phrase search

  /** The fixed phrase set (phrase_id → exact token sequence) — corpus
    * vocabulary n-grams, including a 3-gram so the chained-join shape is
    * actually exercised.
    */
  private[graft] val phrases: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("table", "scan"),
    3 -> Seq("sort", "merge"),
    4 -> Seq("window", "agg", "stream"))

  /** Exact-phrase search via POSITIONAL postings — the retrieval feature
    * BM25's bag-of-words postings cannot answer ("these words, adjacent,
    * in this order"). Postings carry (term, doc_id, posn); a k-token
    * phrase is k−1 chained equi-joins on (doc_id, posn − i), counting
    * join survivors per doc. This is the INDEX-SERVING shape: each join
    * leg filters the postings to ONE phrase term first, so on a
    * term-bucketed persisted index (the BM25 layout,
    * [[docPostings]]/[[bm25Indexed]]) a probe reads only the phrase
    * terms' buckets — never the corpus. No windows, no all-pairs; the
    * candidate stream after the first leg is |postings(w₁)|.
    *
    * The oracle recounts every phrase by an array-local adjacency scan
    * (DuckDB list_filter over positions) — a genuinely different
    * algorithm, which is the point of the gate.
    */
  def phraseSearch(s: SparkSession, d: String): DataFrame =
    phraseSearchOver(documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS t"))

  /** The join machinery over any (doc_id, t: array&lt;string&gt;) batch —
    * separated so the overlap/adjacency semantics are spec-pinnable on a
    * hand-built corpus.
    */
  private[graft] def phraseSearchOver(docs: DataFrame): DataFrame =
    phraseJoins(docs
      .selectExpr("doc_id", "posexplode(t) AS (posn, term)")
      .barrier())

  /** The chained-join probe over any positional postings relation
    * (doc_id, posn, term) — shared by the end-to-end form (postings
    * derived in-query) and the served form (postings read
    * partition-pruned from the persisted index).
    */
  private def phraseJoins(pos: DataFrame): DataFrame = {
    val perPhrase = phrases.map { case (pid, words) =>
      val first = pos.filter(col("term") === words.head)
        .select(col("doc_id"), col("posn"))
      val matched = words.zipWithIndex.drop(1).foldLeft(first) {
        case (acc, (w, i)) =>
          acc.join(
            pos.filter(col("term") === w)
              .select(col("doc_id"), (col("posn") - i).as("posn")),
            Seq("doc_id", "posn"))
      }
      matched.groupBy("doc_id")
        .agg(count(lit(1)).as("n_ocorrencias"))
        .select(lit(pid).as("frase_id"), col("doc_id"),
          col("n_ocorrencias"))
    }
    perPhrase.reduce(_ unionByName _).orderBy("frase_id", "doc_id")
  }

  /** Persist the POSITIONAL postings term-bucketed (the BM25 store's
    * layout device, 16 hash buckets on term): a phrase probe then reads
    * only its terms' buckets — at 100 TB the index is built once per
    * corpus version and each probe's scan is |buckets(phrase terms)|,
    * never the corpus.
    */
  private[graft] def buildPhraseIndex(s: SparkSession, d: String,
                                      dir: String): Unit =
    documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS t")
      .selectExpr("doc_id", "posexplode(t) AS (posn, term)")
      .withColumn("tb", expr("abs(hash(term)) % 16"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dir/postings")

  /** Serve the fixed phrase set from a built index dir — the probe the
    * bench times separately from the build. The bucket IN-list makes the
    * read plan touch only the phrase terms' partitions.
    */
  private[graft] def phraseServed(s: SparkSession, dir: String): DataFrame = {
    val terms = phrases.flatMap(_._2).distinct
    val buckets = terms.map(t => s"abs(hash('$t')) % 16").mkString(", ")
    phraseJoins(s.read.parquet(s"$dir/postings")
      .filter(expr(s"tb IN ($buckets)")).drop("tb"))
  }

  /** The fixed NEAR query set: (query_id, first term, second term, slop)
    * — ordered proximity, w₂ within `slop` positions AFTER w₁.
    */
  private[graft] val nearQueries: Seq[(Int, String, String, Int)] = Seq(
    (1, "hash", "join", 3),
    (2, "customer", "query", 4),
    (3, "sort", "merge", 2))

  /** Ordered proximity search (NEAR-k, the "sloppy phrase") — between
    * exact-phrase adjacency and bag-of-words: count (i, j) position
    * pairs with t[i]=w₁, t[j]=w₂, 0 < j−i ≤ k. Same positional postings
    * as [[phraseSearch]]; the probe is a per-doc BANDED join — equi on
    * doc_id with the range predicate on positions — over postings
    * pre-filtered to ONE term each, so the non-equi band never touches
    * more than |postings(w₁)| × |postings(w₂) ∩ same doc| candidates
    * (both term-bucket-prunable on the persisted index). The oracle
    * recounts array-locally with a nested-lambda window scan.
    */
  def proximitySearch(s: SparkSession, d: String): DataFrame =
    proximityOver(documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS t"))

  private[graft] def proximityOver(docs: DataFrame): DataFrame =
    proximityJoins(docs
      .selectExpr("doc_id", "posexplode(t) AS (posn, term)")
      .barrier())

  /** The banded-join probe over any positional postings relation —
    * shared by the end-to-end and index-served forms like
    * [[phraseJoins]].
    */
  private def proximityJoins(pos: DataFrame): DataFrame = {
    val perQuery = nearQueries.map { case (qid, w1, w2, k) =>
      val p1 = pos.filter(col("term") === w1)
        .select(col("doc_id"), col("posn").as("p1"))
      val p2 = pos.filter(col("term") === w2)
        .select(col("doc_id"), col("posn").as("p2"))
      p1.join(p2, p1("doc_id") === p2("doc_id") &&
          col("p2") > col("p1") && col("p2") <= col("p1") + k)
        .groupBy(p1("doc_id").as("doc_id"))
        .agg(count(lit(1)).as("n_pares"))
        .select(lit(qid).as("consulta_id"), col("doc_id"), col("n_pares"))
    }
    perQuery.reduce(_ unionByName _).orderBy("consulta_id", "doc_id")
  }

  /** NEAR served from the SAME persisted positional index as the exact
    * phrases — one store, every positional query family reads only its
    * terms' buckets.
    */
  def proximityIndexed(s: SparkSession, d: String): DataFrame = {
    val dir = ensurePhraseIndex(s, d)
    val terms = nearQueries.flatMap(q => Seq(q._2, q._3)).distinct
    val buckets = terms.map(t => s"abs(hash('$t')) % 16").mkString(", ")
    proximityJoins(s.read.parquet(s"$dir/postings")
      .filter(expr(s"tb IN ($buckets)")).drop("tb"))
  }

  /** NEAR oracle from the SAME query table: for each w₁ position i,
    * count w₂ positions in (i, i+k] clamped to the doc — nested lambda,
    * outer variable captured in the inner filter.
    */
  private lazy val proximityOracle: String = {
    val arms = nearQueries.map { case (qid, w1, w2, k) =>
      s"""SELECT $qid AS consulta_id, doc_id,
CAST(coalesce(list_sum(list_transform(range(1, len(t) + 1), i ->
  CASE WHEN t[i] = '$w1' THEN
    len(list_filter(range(i + 1, least(i + $k, len(t)) + 1), j -> t[j] = '$w2'))
  ELSE 0 END)), 0) AS BIGINT) AS n_pares
FROM toks"""
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS t FROM documents)
SELECT consulta_id, doc_id, n_pares FROM ($arms)
WHERE n_pares > 0 ORDER BY consulta_id, doc_id"""
  }

  /** One micro-batch of positional postings into the streamed store —
    * the BM25 store protocol ([[bm25ApplyBatch]]): replays of a
    * committed batch skipped at the batchId watermark, the new state
    * staged beside the old and committed atomically. Positional
    * postings are immutable per-doc facts, so the union-rewrite needs
    * no stats sidecar at all.
    */
  private[graft] def phraseApplyBatch(s: SparkSession, stateDir: String,
      batch: DataFrame, batchId: Long): Unit = {
    import graft.etl.StoreCommit
    val prior = StoreCommit.committed(stateDir)
    if (prior.exists(_._2 >= batchId)) return // replay of a committed batch
    val part = batch
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS t")
      .selectExpr("doc_id", "posexplode(t) AS (posn, term)")
    val post = prior match {
      case Some((dir, _)) =>
        part.unionByName(s.read.parquet(s"$stateDir/$dir/postings"))
      case None => part
    }
    post.write.mode("overwrite").parquet(s"$stateDir/idx_b$batchId/postings")
    StoreCommit.commit(stateDir, s"idx_b$batchId", batchId)
    StoreCommit.cleanupStale(stateDir, "idx_b")
  }

  /** Serve the phrase set from the streamed store's committed state. */
  private[graft] def phraseReadState(s: SparkSession,
      stateDir: String): DataFrame = {
    val (dir, _) = graft.etl.StoreCommit.committed(stateDir).getOrElse(
      throw new IllegalStateException(s"phrase state not initialized: $stateDir"))
    phraseJoins(s.read.parquet(s"$stateDir/$dir/postings"))
  }

  // ------------------------------- parameterized phrase / NEAR search
  // The r14 probe sets were compile-time constants; a real user calls
  // phraseSearch(terms) with DATA. Here the query set itself is data:
  // the corpus's top-4 adjacent bigrams by document frequency
  // (deterministic (df DESC, w1, w2) tie-break), staged through a
  // parquet round-trip — the artifact a production probe would ship —
  // then read back and probed against the SAME persisted positional
  // index, with the bucket pruning computed from the staged rows, not
  // from literals. The oracle re-derives the identical query set in SQL
  // and recounts array-locally, so nothing about the probe is baked in
  // at compile time.

  /** Top-4 adjacent bigrams by document frequency — the data-derived
    * query set. Tiny by construction (LIMIT 4), so the global window
    * that assigns frase_id ranks 4 rows.
    */
  private[graft] def derivedPhraseQueries(s: SparkSession, d: String): DataFrame = {
    val pairs = documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS t")
      .filter(expr("size(t) >= 2"))
      .selectExpr("doc_id",
        "explode(transform(sequence(1, size(t) - 1), i -> " +
          "struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))) AS p")
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val ord = Seq(desc("df"), asc("w1"), asc("w2"))
    pairs.groupBy("w1", "w2")
      .agg(countDistinct("doc_id").as("df"))
      .orderBy(ord: _*).limit(4)
      .withColumn("frase_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(ord: _*)))
      .select(col("frase_id"), col("w1"), col("w2"))
  }

  /** Stage the derived query set as a parquet input (build-once per
    * corpus fingerprint, atomic publish) — the probe reads queries from
    * THIS file, never from code.
    */
  private def stagePhraseQueries(s: SparkSession, d: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_phrase_queries_v1_" +
      CurationOps.docsFingerprint(d)
    publishOnce(dir)(tmp =>
      derivedPhraseQueries(s, d).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/queries"))
  }

  /** The staged query set + the persisted index's postings pruned to
    * the staged terms' buckets. The bucket IN-list is computed by a
    * tiny Spark job over the query table (so it uses Spark's own hash,
    * exactly the partition column the index writer used) — O(|queries|)
    * driver rows, the same PartitionFilters device as the fixed-set
    * serve.
    */
  private def stagedProbeInputs(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val q = s.read.parquet(s"${stagePhraseQueries(s, d)}/queries")
    val buckets = q.selectExpr("CAST(abs(hash(w1)) % 16 AS INT) AS b")
      .union(q.selectExpr("CAST(abs(hash(w2)) % 16 AS INT)"))
      .distinct().collect().map(_.getInt(0))
    val pos = s.read.parquet(s"${ensurePhraseIndex(s, d)}/postings")
      .filter(col("tb").isin(buckets.toSeq: _*)).drop("tb")
    (q, pos)
  }

  /** Exact-phrase counts for the STAGED query set, served from the
    * persisted index: one data-driven join pair — postings ⨝ queries on
    * w1 (broadcast: queries are tiny), then the adjacency equi-join on
    * (w2, doc_id, posn−1) — instead of per-phrase compiled legs, so any
    * staged bigram set probes without a recompile.
    */
  def phraseParam(s: SparkSession, d: String): DataFrame = {
    val (q, pos) = stagedProbeInputs(s, d)
    val p1 = pos.join(broadcast(q), col("term") === col("w1"))
      .select(col("frase_id"), col("w2"), col("doc_id"), col("posn"))
    val p2 = pos.select(col("term").as("w2"), col("doc_id"),
      (col("posn") - 1).as("posn"))
    p1.join(p2, Seq("w2", "doc_id", "posn"))
      .groupBy("frase_id", "doc_id")
      .agg(count(lit(1)).as("n_ocorrencias"))
      .orderBy("frase_id", "doc_id")
  }

  /** NEAR-3 for the SAME staged query set (w₂ within 3 positions after
    * w₁): the banded per-doc join of the fixed-set probe, driven by the
    * staged rows.
    */
  def nearParam(s: SparkSession, d: String): DataFrame = {
    val (q, pos) = stagedProbeInputs(s, d)
    val p1 = pos.join(broadcast(q), col("term") === col("w1"))
      .select(col("frase_id").as("consulta_id"), col("w2"),
        col("doc_id"), col("posn").as("p1"))
    val p2 = pos.select(col("term").as("w2"), col("doc_id"),
      col("posn").as("p2"))
    p1.join(p2, Seq("w2", "doc_id"))
      .filter(col("p2") > col("p1") && col("p2") <= col("p1") + 3)
      .groupBy("consulta_id", "doc_id")
      .agg(count(lit(1)).as("n_pares"))
      .orderBy("consulta_id", "doc_id")
  }

  /** The shared derivation CTEs: adjacent bigram pairs and the top-4
    * query set, re-derived by DuckDB with the same (df DESC, w1, w2)
    * determinism.
    */
  private lazy val paramQsetCtes: String =
    s"""toks AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS t FROM documents),
pares AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        FROM toks WHERE len(t) >= 2)),
qset AS (
  SELECT CAST(row_number() OVER (ORDER BY df DESC, w1, w2) AS INTEGER) AS frase_id,
         w1, w2
  FROM (SELECT w1, w2, count(DISTINCT doc_id) AS df FROM pares
        GROUP BY w1, w2 ORDER BY df DESC, w1, w2 LIMIT 4))"""

  /** Phrase-param oracle: derived qset ⨝ the adjacent-pair recount. */
  private lazy val phraseParamOracle: String =
    s"""WITH $paramQsetCtes
SELECT q.frase_id, p.doc_id, count(*) AS n_ocorrencias
FROM pares p JOIN qset q USING (w1, w2)
GROUP BY q.frase_id, p.doc_id
ORDER BY frase_id, doc_id"""

  /** NEAR-param oracle: derived qset against a banded positional
    * recount (b strictly after a, within 3).
    */
  private lazy val nearParamOracle: String =
    s"""WITH $paramQsetCtes,
posiciones AS (
  SELECT doc_id, i AS posn, t[i] AS term
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks))
SELECT q.frase_id AS consulta_id, a.doc_id AS doc_id, count(*) AS n_pares
FROM qset q
JOIN posiciones a ON a.term = q.w1
JOIN posiciones b ON b.doc_id = a.doc_id AND b.term = q.w2
     AND b.posn > a.posn AND b.posn <= a.posn + 3
GROUP BY q.frase_id, a.doc_id
ORDER BY consulta_id, a.doc_id"""

  /** The index-serving gate: build-once (content-fingerprinted), then
    * probe — must be bit-identical to the end-to-end form, same oracle.
    */
  def phraseIndexed(s: SparkSession, d: String): DataFrame =
    phraseServed(s, ensurePhraseIndex(s, d))

  /** Build-once resolution of the shared positional store (content
    * fingerprinted like the BM25 store) — used by both probe families.
    */
  private def ensurePhraseIndex(s: SparkSession, d: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_phrase_index_v1_" +
      CurationOps.docsFingerprint(d)
    publishOnce(dir)(buildPhraseIndex(s, d, _))
  }

  /** The phrase oracle, generated from the SAME phrase table: count
    * positions i where all k tokens match in place. range's stop is
    * len−k+2 so i+k−1 never overruns (and is empty when the doc is
    * shorter than the phrase).
    */
  private lazy val phraseOracle: String = {
    val arms = phrases.map { case (pid, words) =>
      val k = words.size
      val cond = words.zipWithIndex.map {
        case (w, 0) => s"t[i] = '$w'"
        case (w, i) => s"t[i+$i] = '$w'"
      }.mkString(" AND ")
      s"""SELECT $pid AS frase_id, doc_id,
CAST(len(list_filter(range(1, len(t) - ${k - 2}), i -> $cond)) AS BIGINT) AS n_ocorrencias
FROM toks"""
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS t FROM documents)
SELECT frase_id, doc_id, n_ocorrencias FROM ($arms)
WHERE n_ocorrencias > 0 ORDER BY frase_id, doc_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // positional-postings exact-phrase probe (the chained-join serve)
    "q_phrase_search" -> (phraseSearch _),
    // the same probe served from the persisted term-bucketed index
    "q_phrase_search_indexed" -> (phraseIndexed _),
    // ordered NEAR-k proximity (banded position join over the postings)
    "q_phrase_near" -> (proximitySearch _),
    "q_phrase_near_indexed" -> (proximityIndexed _),
    // queries-as-DATA: the probe set is derived from the corpus, staged
    // as parquet, read back, and served off the persisted index with
    // bucket pruning computed from the staged rows — no recompile
    "q_phrase_param" -> (phraseParam _),
    "q_near_param" -> (nearParam _),
    // the positional index maintained under arrivals (exactly-once)
    "q_phrase_search_stream" ->
      (graft.streaming.Streams.phraseSearchStreamed _),
    "q_bm25_topk" -> (bm25TopK _),
    // WAND/MaxScore-pruned serve off the persisted index — same oracle
    // as the exhaustive form: the pruning must be answer-invisible
    "q_bm25_wand" -> (bm25Wand _),
    // data-parameterized query set (staged from the corpus, the r15
    // phrase/NEAR pattern): exhaustive + WAND-pruned, same oracle pair
    "q_bm25_param" -> (bm25Param _),
    "q_bm25_wand_param" -> (bm25WandParam _),
    // the Zipfian regime (generated deterministically, cross-engine):
    // near-stopword + rare-term queries — the workload WAND exists for;
    // exhaustive and pruned forms share the regenerating oracle
    "q_bm25_zipf" -> (bm25Zipf _),
    "q_bm25_zipf_wand" -> (bm25ZipfWand _),
    // the expensive-scorer pair: same corpus/queries, every posting
    // re-scored through the depth-ExpensiveDepth chain; pruning must stay
    // answer-invisible (boost < 1 keeps the stored bounds valid)
    "q_bm25_zipf_expensive" -> (bm25ZipfExpensive _),
    "q_bm25_zipf_expensive_wand" -> (bm25ZipfExpensiveWand _),
    // the persisted-inverted-index serving path; same oracle
    "q_bm25_indexed" -> (bm25Indexed _),
    // the index lifecycle's delete third: tombstone-masked serve and
    // physically-compacted serve, both against the survivors oracle
    "q_bm25_delete" -> (bm25Deleted _),
    "q_bm25_delete_compact" -> (bm25DeletedCompacted _),
    // the pruned serve over the STILL-TOMBSTONED store: stored bounds
    // inflated by the provable idf-ratio × avgdl-ratio factor, no
    // compaction required before pruning
    "q_bm25_wand_deleted" -> (bm25WandDeleted _),
    // the UPDATE lifecycle: tombstone old versions, compact, append new
    "q_bm25_update" -> (bm25Updated _),
    // the pruned serve over the MUTATED store: refresh-on-write keeps
    // the upper bounds valid, pruning stays answer-invisible
    "q_bm25_wand_updated" -> (bm25WandUpdated _),
    // delete requests arriving as a stream (per-batch tombstones,
    // exactly-once) — arrival shape must be unobservable in the answer
    "q_bm25_delete_stream" ->
      (graft.streaming.Streams.bm25DeleteStreamed _),
    // reciprocal-rank fusion of the BM25 and dense top-k lists
    "q_hybrid_rrf" -> (hybridRrf _),
    // the index maintained under arrivals (append-only postings,
    // additive stats, read-time df); served result must be identical
    "q_bm25_stream" -> (graft.streaming.Streams.bm25Streamed _))

  val oracle: Map[String, String] = Map(
    "q_phrase_search" -> phraseOracle,
    "q_phrase_search_indexed" -> phraseOracle,
    "q_phrase_near" -> proximityOracle,
    "q_phrase_near_indexed" -> proximityOracle,
    // the oracle re-derives the staged query set itself (same top-4
    // bigram determinism), then recounts array-locally
    "q_phrase_param" -> phraseParamOracle,
    "q_near_param" -> nearParamOracle,
    "q_phrase_search_stream" -> phraseOracle,
    "q_bm25_topk" -> bm25Oracle,
    "q_bm25_wand" -> bm25Oracle,
    "q_bm25_param" -> bm25ParamOracle,
    "q_bm25_wand_param" -> bm25ParamOracle,
    "q_bm25_zipf" -> zipfOracle,
    "q_bm25_zipf_wand" -> zipfOracle,
    "q_bm25_zipf_expensive" -> zipfExpensiveOracle,
    "q_bm25_zipf_expensive_wand" -> zipfExpensiveOracle,
    "q_bm25_indexed" -> bm25Oracle,
    "q_hybrid_rrf" -> hybridOracle,
    "q_bm25_stream" -> bm25Oracle,
    // deletion must answer as if the victims were never indexed —
    // globals (nd, avgdl, read-time df) included
    "q_bm25_delete" -> bm25OracleOver("NOT (doc_id % 7 = 3)"),
    "q_bm25_delete_compact" -> bm25OracleOver("NOT (doc_id % 7 = 3)"),
    "q_bm25_wand_deleted" -> bm25OracleOver("NOT (doc_id % 7 = 3)"),
    // update must equal BM25 over the corpus as modified
    "q_bm25_update" -> bm25UpdateOracle,
    "q_bm25_wand_updated" -> bm25UpdateOracle,
    // streamed deletes converge to the identical survivor answer
    "q_bm25_delete_stream" -> bm25OracleOver("NOT (doc_id % 7 = 3)"))
}
