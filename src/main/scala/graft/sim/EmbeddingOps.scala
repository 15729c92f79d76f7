package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.embeddings
import graft.text.TextExprs._

/** Similarity search over the embeddings table (64-dim float vectors):
  * exact norms, brute-force cosine top-k (the correctness baseline),
  * random-hyperplane LSH bucketing (the scale path — candidates come from
  * an equi-join on the bucket signature instead of a cross join), and
  * blocked near-duplicate pairs.
  *
  * All vector math is accumulated left-to-right in double via shared
  * Spark/DuckDB expression templates (TextExprs.dot) — verified
  * bit-identical across engines, so cosine values and orderings agree
  * exactly with the oracle.
  *
  * Scale notes: brute-force top-k is a broadcast of the (small) query set
  * against a partitioned scan of the corpus — no shuffle of the big side;
  * rank-k is a per-query window over (query × corpus) rows partitioned by
  * query id. LSH bucketing replaces the quadratic candidate space with a
  * groupBy on an 8-bit signature.
  */
object EmbeddingOps {

  private val DIM = 64
  private[graft] val N_QUERIES = 8  // vec_id < 8 are the demo query vectors
  private val TOP_K = 5

  private def norm(v: String) = s"sqrt(${dot(v, v, DIM).spark})"
  private def normDuck(v: String) = s"sqrt(${dot(v, v, DIM).duck})"

  def embedNorm(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).selectExpr(
      "CAST(vec_id AS BIGINT) AS vec_id",
      "CAST(label AS INTEGER) AS label",
      s"${norm("embedding")} AS norma")
      .orderBy("vec_id")

  /** Brute-force cosine top-k: exact baseline. The query side is tiny and
    * broadcast; the corpus is scanned once. Ranking goes through the
    * bounded [[graft.functions.TopKByScore]] aggregator (partial+final
    * HashAggregate, O(k) state per query) rather than a
    * row_number-over-window tail, which would shuffle every candidate of
    * a query to a single reducer task — correct at sf0.1, fatal at corpus
    * scale.
    */
  def annBruteForce(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val q = base.filter(col("vec_id") < N_QUERIES).toDF("query_id", "q_emb")
    val sims = broadcast(q).crossJoin(base)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        graft.functions.GraftFunctions.cosine_sim(col("q_emb"), col("embedding"))
          .as("sim"),
        col("vec_id"))
    rankViaTopK(s, sims)
  }

  /** Shared scale-safe ranking tail: (query_id, sim, vec_id) candidates →
    * per-query top-k via the bounded aggregator, exploded back to ranked
    * rows with the oracle's deterministic (sim DESC, vizinho ASC) order.
    */
  private[graft] def rankViaTopK(s: SparkSession, sims: DataFrame): DataFrame = {
    import s.implicits._
    val agg = graft.functions.TopKByScore(TOP_K).toColumn
    sims.as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, sim, id) => (sim, id) }
      .agg(agg.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p._2").as("vizinho"), col("p._1").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-k most similar corpus vectors whose label DIFFERS from the
    * query's — the near-miss examples a retrieval/embedding trainer
    * wants as negatives. Same scale shape as the brute baseline (tiny
    * query set broadcast against one partitioned corpus scan, bounded
    * O(k)-state aggregator for the rank tail); the label exclusion is a
    * pushed-down filter on the scan side. Composes unchanged with the
    * IVF probe path when the corpus outgrows a full scan — the filter
    * rides on the probed cells.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d).selectExpr(
      "CAST(vec_id AS BIGINT) AS vec_id",
      "CAST(label AS INTEGER) AS label", "embedding")
    val q = base.filter(col("vec_id") < N_QUERIES)
      .toDF("query_id", "q_label", "q_emb")
    val sims = broadcast(q).crossJoin(base)
      .filter(col("label") =!= col("q_label"))
      .select(col("query_id"),
        graft.functions.GraftFunctions.cosine_sim(col("q_emb"), col("embedding"))
          .as("sim"),
        col("vec_id"))
    rankViaTopK(s, sims)
  }

  /** 8-bit random-hyperplane LSH signatures — the scale path for ANN:
    * vectors sharing a bucket are join candidates.
    */
  def lshBuckets(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).selectExpr(
      "CAST(vec_id AS BIGINT) AS vec_id",
      "CAST(label AS INTEGER) AS label",
      s"${lshBucket("embedding", 8, DIM).spark} AS bucket")
      .orderBy("vec_id")

  /** Near-duplicate vector pairs: blocked on the TRAINED k-means cell
    * (each vector's L2 assignment under the Lloyd-trained quantizer),
    * exact cosine within the block. Blocking on a trained quantizer is
    * what makes this the scalable near-dup path: the cell count is a
    * config that grows with the corpus (k cells → O(N²/k) candidate
    * pairs), unlike the fixed-cardinality label column this blocked on
    * through r6. The assignment is materialized once (checkpoint barrier)
    * because it feeds both sides of the self-join.
    */
  def embedNearDup(s: SparkSession, d: String, threshold: Double = 0.4): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val asg = graft.Checkpoint.barrier(
      assignCells(s, base, kmeansCentroids(s, d))
        .select(col("vec_id"), col("embedding"), col("cell")))
    val a = asg.toDF("vec_a", "emb_a", "cell")
    val b = asg.toDF("vec_b", "emb_b", "cell")
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim",
        graft.functions.GraftFunctions.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select(col("cell"), col("vec_a"), col("vec_b"), col("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** [[embedNearDup]] served from the PERSISTED k-means index: the cells
    * table already holds every vector's trained-cell assignment, so the
    * serving path is one parquet scan + a cell-blocked self-join — the
    * Lloyd training is amortized into the index build instead of being
    * re-run per invocation (the r7 q_embed_neardup regression: +1.9 s of
    * in-query training). Results are identical to the self-contained form
    * (same centroids, same assignment), so it gates against the SAME
    * oracle.
    */
  def embedNearDupIndexed(s: SparkSession, d: String, indexDir: String,
      threshold: Double = 0.4): DataFrame = {
    val asg = s.read.parquet(s"$indexDir/cells")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val a = asg.toDF("vec_a", "emb_a", "cell")
    val b = asg.toDF("vec_b", "emb_b", "cell")
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim",
        graft.functions.GraftFunctions.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select(col("cell"), col("vec_a"), col("vec_b"), col("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Driver-contract wrapper: shares the staleness-fingerprinted k-means
    * index with [[annIvfKmeansIndexedAuto]] (same build, built once).
    */
  def embedNearDupIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_km", buildIvfIndexKmeans(s, d, _), embedNearDupIndexed(s, d, _))

  /** SemDeDup (Abbas et al. 2023) end-to-end: semantic dedup over the
    * embedding space. Near-identical pairs come from the trained-quantizer
    * cell-blocked cosine pass, the pairs close into clusters via the SAME
    * min-label-propagation kernel the MinHash dedup family uses
    * (TextOps.componentsOf — edge generation is the only difference
    * between lexical and semantic dedup here), and each cluster keeps its
    * minimum-id vector. Output: the surviving corpus with how many
    * semantic duplicates each survivor absorbed — the embedding twin of
    * q_dedup_canonical.
    *
    * Serves off the persisted k-means index (training amortized into the
    * index build, the r7 directive-5 posture); results are identical to
    * the self-contained form, so the oracle re-derives everything from
    * scratch — full Lloyd training, blocked pairs, and a RECURSIVE-CTE
    * reachability closure that must agree with label propagation.
    */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    val pairs = embedNearDupIndexedAuto(s, d).select("vec_a", "vec_b")
    val labels = graft.text.TextOps.componentsOf(pairs).toDF("vec_id", "cluster")
    val dropped = labels.filter(col("vec_id") =!= col("cluster"))
    val absorbed = labels.groupBy(col("cluster").as("vec_id"))
      .agg((count(lit(1)) - 1).as("n_absorvidos"))
    corpus(s, d).select("vec_id")
      .join(dropped.select("vec_id"), Seq("vec_id"), "left_anti")
      .join(absorbed, Seq("vec_id"), "left")
      .na.fill(0, Seq("n_absorvidos"))
      .orderBy("vec_id")
  }

  /** IVF-style ANN: labels stand in for a k-means coarse quantizer. The
    * query is routed to its nearest centroid (cell), then searched
    * exhaustively only within that cell — the probe pattern of an IVF
    * index. Centroids are tiny (k rows) and broadcast; the corpus is
    * scanned once, partitioned by cell.
    *
    * Centroid means are computed in EXACT integer arithmetic: each float
    * component is rounded to 1e-6 resolution and summed as a long, so the
    * mean is independent of partial-aggregation order (a plain avg over
    * doubles is not — it left this query rows-only-checked for three
    * rounds) and the DuckDB oracle reproduces it bit-exactly. The 1e-6
    * quantization is harmless for a coarse quantizer and keeps the sum
    * distributed-friendly (partial+final HashAggregate over longs).
    */
  def annIvf(s: SparkSession, d: String): DataFrame = annIvfProbe(s, d, 1)

  private def corpus(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id",
        "CAST(label AS INTEGER) AS label", "embedding")

  /** Centroid per cell: element-wise mean (posexplode → exact-sum →
    * rebuild). Exact integer arithmetic — see [[annIvfProbe]]'s Scaladoc.
    */
  private def centroids(base: DataFrame): DataFrame = base
    .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
    .groupBy("label", "i")
    .agg((sum(round(col("x").cast("double") * 1e6).cast("long")).cast("double") /
      (count(lit(1)).cast("double") * 1e6)).as("m"))
    .groupBy("label")
    .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("sm"))
    .select(col("label").as("cell"),
      expr("transform(sm, p -> CAST(p.m AS FLOAT))").as("centroid"))

  /** Multi-probe form: the query is routed to its `nProbe` nearest cells
    * and searched in their union — the standard IVF recall knob (probe
    * more cells → higher recall, linearly more candidates; still a tiny
    * fraction of the corpus). Each corpus vector lives in exactly one
    * cell, so the union needs no dedup.
    */
  def annIvfProbe(s: SparkSession, d: String, nProbe: Int): DataFrame = {
    val base = corpus(s, d)
    val cents = centroids(base)
    val q = base.filter(col("vec_id") < N_QUERIES)
      .toDF("query_id", "q_label", "q_emb")
    // Route each query to its nProbe nearest centroids. This window is
    // bounded: per query it ranks exactly #cells candidate rows (the coarse
    // quantizer size, fixed and corpus-independent), unlike the candidate
    // ranking tail below which grows with the corpus.
    val routed = q.crossJoin(broadcast(cents))
      .withColumn("sim_c",
        graft.functions.GraftFunctions.cosine_sim(col("q_emb"), col("centroid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim_c"), asc("cell"))))
      .filter(col("rk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    // ...then search only those cells
    val hits = routed.join(base, routed("cell") === base("label"))
      .filter(col("query_id") =!= col("vec_id"))
    rankProbed(s, hits)
  }

  /** Scale-safe ranking tail shared by the probe paths: the candidates'
    * per-query top-k goes through the bounded payload-carrying aggregator
    * (cell rides along as the payload), not a window — a window would
    * shuffle every probed candidate of a query to one reducer; this stays
    * a partial+final aggregate with O(k) state per query.
    */
  private def rankProbed(s: SparkSession, hits: DataFrame): DataFrame = {
    import s.implicits._
    val cands = hits.select(col("query_id"),
      graft.functions.GraftFunctions.cosine_sim(col("q_emb"), col("embedding"))
        .as("sim"),
      col("vec_id"), col("cell").cast("long").as("cell_l"))
    val agg = graft.functions.TopKByScoreTagged(TOP_K).toColumn
    cands.as[(Long, Double, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, sim, id, cell) => (sim, id, cell) }
      .agg(agg.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p._3").cast("int").as("cell"),
        col("p._2").as("vizinho"), col("p._1").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------------------- k-means
  // A REAL coarse quantizer (the label column elsewhere is a stand-in):
  // Lloyd's iterations, fully distributed, engineered to be bit-exact
  // against a DuckDB oracle — deterministic init (the k smallest vec_ids,
  // 1e-6-quantized), a FIXED iteration count (k-means converges
  // data-dependently; a fixed unroll is reproducible and lets the oracle
  // mirror each round as a CTE), exact-integer centroid means (the same
  // micro-unit sum the IVF centroids use, so partial-aggregation order
  // can't perturb them), and L2² assignment via three left-to-right dot
  // folds with (dist, cell) tie-breaks.

  private val KMEANS_K = 8
  private val KMEANS_ITERS = 2

  /** L2² distance as three shared dot templates: |v|² − 2⟨v,c⟩ + |c|².
    * Identical fold order in both engines → bit-identical doubles.
    */
  private def l2sq(v: String, c: String, dim: Int = DIM) = {
    val (dv, vc, cc) = (dot(v, v, dim), dot(v, c, dim), dot(c, c, dim))
    graft.text.TextExprs.X(
      s"(${dv.spark} - 2.0 * ${vc.spark} + ${cc.spark})",
      s"(${dv.duck} - 2.0 * ${vc.duck} + ${cc.duck})")
  }

  /** One assignment round: each vector to its nearest centroid, as a
    * lexicographic MIN over (dist, cell, embedding) structs — the same
    * (dist ASC, cell ASC) tie-break a ranking window would apply, but as
    * a partial+final aggregate: map-side combine collapses the k
    * candidates of each vector before the exchange, so the shuffle
    * carries one row per corpus vector (not k) and nothing is sorted.
    * This is the corpus-wide step of every Lloyd round — the one place a
    * window tail would shuffle corpus × k rows at 100 TB. (embedding sits
    * last in the struct and never drives the comparison: cell is unique.)
    */
  private[graft] def assignCells(s: SparkSession, base: DataFrame, cents: DataFrame): DataFrame =
    base.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.GraftFunctions.l2_sq(col("embedding"), col("centroid")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cell"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cell").as("cell"), col("m.dist").as("dist"))

  /** Exact-integer element-wise means of the assigned vectors (DOUBLE
    * centroids — no float round-trip inside the iteration).
    */
  private def recomputeCentroids(assigned: DataFrame): DataFrame = assigned
    .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
    .groupBy("cell", "i")
    .agg((sum(round(col("x").cast("double") * 1e6).cast("long")).cast("double") /
      (count(lit(1)).cast("double") * 1e6)).as("m"))
    .groupBy("cell")
    .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("sm"))
    .select(col("cell"), expr("transform(sm, p -> p.m)").as("centroid"))

  /** Trained centroids after KMEANS_ITERS Lloyd rounds. Each round's tiny
    * centroid table goes through a checkpoint barrier so the lineage stays
    * one round deep instead of nesting every iteration's plan.
    */
  def kmeansCentroids(s: SparkSession, d: String): DataFrame =
    kmeansCentroidsOf(corpus(s, d).select("vec_id", "embedding"))

  /** Lloyd training over an arbitrary training base — factored out so the
    * incremental index path can train on the corpus-as-of-build-time and
    * later batches join the index without retraining.
    *
    * Only the FINAL centroid table goes through a checkpoint barrier:
    * each round references the previous round's centroids exactly once
    * (the broadcast side of the assignment), so the unbarriered lineage
    * nests LINEARLY in the round count — the 2^i frontier explosion that
    * forces per-iteration barriers in the self-join loops (label
    * propagation) cannot happen here, and collapsing the rounds into one
    * job drops a scheduler+checkpoint round-trip per iteration (the
    * in-query trainings' dominant fixed cost). The one barrier at the
    * end still guarantees every downstream consumer reads a materialized
    * table instead of re-running the training.
    */
  /** Build-time quantizer size for the graph family's PERSISTED stores:
    * cells target constant membership at any corpus size. The graph
    * adjacency derivation is a per-cell kNN self-join, so a FIXED K
    * makes cell populations grow with the corpus and the candidate
    * block quadratic — measured at sf10 (200k vectors, K=8): 1227 s
    * build, ~5×10⁹ scored pairs; K=N/4000 bounds every cell block at
    * ~1.6×10⁷ pairs and the total at ~N·4000 (linear). Every gated
    * corpus (sf0.001 → sf1, ≤ 32k vectors) resolves to KMEANS_K, so
    * the oracle kmeans unrolls are unchanged where oracles run. (At
    * 10⁶+ cells the centroid layer's own kNN inherits the same shape
    * and would cell-partition recursively — the HNSW upper-layer
    * analog the routed family already documents.)
    */
  private val knownCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Memoized corpus-slice row count: staged corpora are immutable for
    * the life of a JVM, so several index builds sharing one bench rep
    * pay the counting job once, not once per build (VERDICT r18 #7).
    * Keyed on the dir's [[datasetFingerprint]] (file lengths + mtimes)
    * plus the slice tag, so a dir restaged WITHIN one long-lived JVM
    * (a probe that stages then builds) invalidates naturally instead
    * of training adaptiveK at a stale K (r19 ADVICE).
    */
  private[graft] def cachedCount(d: String, slice: String,
      base: => DataFrame): Long =
    knownCounts.computeIfAbsent(s"${datasetFingerprint(d)}#$slice",
      _ => Long.box(base.count())).longValue()

  private def adaptiveK(base: DataFrame, knownN: Long = -1L): Int = {
    val n = if (knownN >= 0L) knownN else base.count()
    math.max(KMEANS_K, math.ceil(n.toDouble / CellMembership).toInt)
  }

  private[graft] def kmeansCentroidsOf(base: DataFrame,
      k: Int = KMEANS_K): DataFrame = {
    val quant = "transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE) " +
      "* 1000000) AS BIGINT) AS DOUBLE) / 1000000.0)"
    var cents = base.filter(col("vec_id") < k)
      .selectExpr("CAST(vec_id AS INT) AS cell", s"$quant AS centroid")
    for (i <- 1 to KMEANS_ITERS) {
      val next = recomputeCentroids(assignCells(base.sparkSession, base, cents))
      cents = if (i == KMEANS_ITERS) graft.Checkpoint.barrier(next) else next
    }
    cents
  }

  /** Serving assignment under the trained centroids. */
  def kmeansCells(s: SparkSession, d: String): DataFrame =
    assignCells(s, corpus(s, d).select("vec_id", "embedding"),
      kmeansCentroids(s, d))
      .select(col("vec_id"), col("cell"), col("dist"))
      .orderBy("vec_id")

  /** DIVERSITY-BALANCED subsample — coverage-preserving corpus
    * reduction: up to [[DiverseQ]] vectors per trained k-means cell,
    * nearest-to-centroid (most prototypical) first, so every semantic
    * region keeps representation no matter how skewed the cell
    * populations are. This balances on LEARNED structure where
    * stratified/quota sampling balance on metadata strata — the
    * SemDeDup-era recipe for pruning over-represented content while
    * never emptying a region of meaning-space.
    *
    * Scale shape: assignment is the one-broadcast-join k-means serving
    * pass; per-cell selection is the bounded top-k AGGREGATOR (O(Q)
    * sorted state per cell, partial+final merge) — never a per-cell sort
    * window, so a billion-vector cell costs one pass, not a sort.
    */
  private val DiverseQ = 25
  def sampleDiverse(s: SparkSession, d: String): DataFrame =
    diverseTail(s, assignCells(s, corpus(s, d).select("vec_id", "embedding"),
      kmeansCentroids(s, d)).select("vec_id", "cell", "dist"))

  /** [[sampleDiverse]] SERVED from a persisted k-means index: the stored
    * cells table already carries each vector's assignment, so only the
    * distance to its OWN stored centroid is recomputed (one broadcast
    * join over the assigned cell — no training, no argmin over all
    * cells). Same l2_sq kernel on the same values ⇒ bit-identical to the
    * self-contained form; gated by the same oracle.
    */
  def sampleDiverseIndexed(s: SparkSession, d: String, indexDir: String): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val asg = s.read.parquet(s"$indexDir/cells")
      .select("vec_id", "embedding", "cell")
      .join(broadcast(cents), Seq("cell"))
      .withColumn("dist",
        graft.functions.GraftFunctions.l2_sq(col("embedding"), col("centroid")))
      .select("vec_id", "cell", "dist")
    diverseTail(s, asg)
  }

  /** Build-once wrapper sharing the `_km` index with the near-dup and
    * probe serving paths — one quantizer training feeds every derived
    * artifact.
    */
  def sampleDiverseIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_km", buildIvfIndexKmeans(s, d, _), sampleDiverseIndexed(s, d, _))

  /** Per-cell quota selection over an explicit (vec_id, cell, dist)
    * assignment — the shared tail of the self-contained and index-backed
    * forms. Score = −dist: the aggregator keeps (score DESC, id ASC) ⇒
    * the Q smallest distances, ties to the smaller vec_id — the exact
    * order the oracle's (dist ASC, vec_id ASC) row_number reproduces.
    */
  private def diverseTail(s: SparkSession, asg: DataFrame): DataFrame = {
    import s.implicits._
    val agg = graft.functions.TopKByScore(DiverseQ).toColumn
    asg.select(col("cell").cast("long").as("cell"), (-col("dist")).as("s"),
        col("vec_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, sc, id) => (sc, id) }
      .agg(agg.name("top"))
      .toDF("cell", "top")
      .select(col("cell"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("cell").cast("int").as("cell"), col("p._2").as("vec_id"),
        (-col("p._1")).as("dist"), (col("pos") + 1).cast("int").as("posicao"))
      .orderBy("cell", "posicao")
  }

  /** IVF probe under the TRAINED k-means quantizer: each demo query is
    * routed to its own k-means cell (its L2 assignment — the nProbe=1
    * probe under the quantizer's native metric) and ranked by cosine
    * within that cell through the bounded aggregator tail. The
    * label-based probes stay alongside as the partition-friendly form;
    * this one exercises the real train→assign→probe lifecycle end to end.
    */
  def annIvfKmeans(s: SparkSession, d: String): DataFrame =
    annIvfKmeansProbe(s, d, 1)

  /** Multi-probe form under the trained quantizer — the recall knob: the
    * query routes to its nProbe nearest centroids by L2 (the quantizer's
    * metric; nProbe=1 reproduces the query's own assignment) and searches
    * their union. Routing ranks #cells candidates per query
    * (corpus-independent window); candidate ranking is the bounded
    * aggregator tail.
    */
  def annIvfKmeansProbe(s: SparkSession, d: String, nProbe: Int): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = assignCells(s, base, cents)
    val q = base.filter(col("vec_id") < N_QUERIES)
      .toDF("query_id", "q_emb")
    val routed = q.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("centroid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))))
      .filter(col("rk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val c = asg.select(col("vec_id"), col("embedding"), col("cell"))
    val hits = routed.join(c,
        routed("cell") === c("cell") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), routed("cell"), col("vec_id"),
        col("embedding"))
    rankProbed(s, hits)
  }

  /** Hard negatives served through the IVF route — the scale path for
    * [[hardNegatives]]: the query probes its nProbe nearest cells under
    * the trained quantizer and the label exclusion rides on the probed
    * candidates, so negative mining never scans the full corpus (the
    * same brute→probe trade as q_ann_brute vs q_ann_ivf_kmeans; recall
    * follows the probe knob). The candidate-side label attach is an
    * equi-join on vec_id; the 8-row query-label table broadcasts.
    */
  def hardNegativesIvf(s: SparkSession, d: String, nProbe: Int = 2): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = assignCells(s, base, cents)
    val lab = corpus(s, d).select(col("vec_id"), col("label"))
    val q = base.filter(col("vec_id") < N_QUERIES).toDF("query_id", "q_emb")
    val qlab = lab.filter(col("vec_id") < N_QUERIES).toDF("query_id", "q_label")
    val routed = q.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("centroid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))))
      .filter(col("rk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val c = asg.select(col("vec_id"), col("embedding"), col("cell"))
      .join(lab, Seq("vec_id"))
    val hits = routed.join(broadcast(qlab), Seq("query_id"))
      .join(c, routed("cell") === c("cell") && col("label") =!= col("q_label"))
      .select(col("query_id"), col("q_emb"), routed("cell"), col("vec_id"),
        col("embedding"))
    rankProbed(s, hits)
  }

  // ------------------------------------------------- product quantization
  // The COMPRESSED index path (IVF-PQ's second stage): the 64-dim float
  // vector (256 bytes) is split into M=4 16-dim subspaces, each trained
  // with its own tiny Lloyd codebook (K=8), and stored as 4 one-byte codes
  // — 64× compression, the difference between an ANN index that fits in
  // cluster memory at 100 TB and one that doesn't. Queries stay
  // full-precision: ADC (asymmetric distance computation) precomputes, per
  // query × subspace × codebook entry, the partial L2² between the query's
  // sub-vector and the centroid (a LUT of M·K doubles per query, broadcast
  // everywhere), and a candidate's approximate distance is FOUR LUT
  // lookups + adds — the corpus's floats are never touched at query time.
  // Training reuses the k-means discipline that makes the gate bit-exact
  // (deterministic init, fixed unrolled rounds, exact-integer means, L2
  // tie-breaks), per subspace.

  private val PQ_M = 4
  private val PQ_SUB = DIM / PQ_M // 16
  private val PQ_K = 8
  private val PQ_ITERS = 2

  /** One row per (vec_id, subspace m) carrying the 16-dim slice. */
  private def pqSubCorpus(s: SparkSession, d: String): DataFrame =
    pqSubOf(corpus(s, d).select("vec_id", "embedding"))

  /** The subspace explode over an explicit base — the incremental index
    * path encodes arrival batches, not the whole corpus. `m` is the
    * subspace count (PQ's real precision lever: per-subspace
    * quantization error scales ~K^(−2/d) with d = DIM/m dims per
    * subspace, so splitting finer buys exponentially more than adding
    * codebook entries — the K=64 recall measurement demonstrates it).
    */
  private def pqSubOf(base: DataFrame, m: Int = PQ_M): DataFrame = {
    val sub = DIM / m
    base.withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .selectExpr("vec_id", "m",
        s"slice(embedding, m * $sub + 1, $sub) AS sub")
  }

  /** Per-subspace assignment: each (vec, m) to its nearest codebook entry
    * OF THAT SUBSPACE — the same struct-min partial+final aggregate as
    * [[assignCells]] (shuffle = one row per (vec, m)), keyed by m so all
    * four codebooks train in ONE distributed job, not four.
    */
  private def pqAssign(base: DataFrame, cents: DataFrame): DataFrame =
    base.join(broadcast(cents), Seq("m"))
      .withColumn("dist", graft.functions.GraftFunctions.l2_sq(col("sub"), col("centroid")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("cell"), col("sub"))).as("x"))
      .select(col("vec_id"), col("m"), col("x.sub").as("sub"),
        col("x.cell").as("cell"), col("x.dist").as("dist"))

  /** Exact-integer element-wise means per (m, cell) — the per-subspace
    * copy of [[recomputeCentroids]].
    */
  private def pqRecompute(assigned: DataFrame): DataFrame = assigned
    .select(col("m"), col("cell"), posexplode(col("sub")).as(Seq("i", "x")))
    .groupBy("m", "cell", "i")
    .agg((sum(round(col("x").cast("double") * 1e6).cast("long")).cast("double") /
      (count(lit(1)).cast("double") * 1e6)).as("mean"))
    .groupBy("m", "cell")
    .agg(array_sort(collect_list(struct(col("i"), col("mean")))).as("sm"))
    .select(col("m"), col("cell"), expr("transform(sm, p -> p.mean)").as("centroid"))

  /** The four trained codebooks after PQ_ITERS Lloyd rounds each
    * (deterministic init: the K smallest vec_ids' sub-vectors,
    * 1e-6-quantized; per-round checkpoint barrier keeps lineage flat).
    */
  def pqCodebooks(s: SparkSession, d: String): DataFrame =
    pqCodebooksOf(pqSubCorpus(s, d))

  /** Per-subspace Lloyd over an explicit sub-vector base (see
    * [[kmeansCentroidsOf]] for the train-base split's role in the
    * incremental index path).
    */
  private[graft] def pqCodebooksOf(base: DataFrame, k: Int = PQ_K): DataFrame = {
    val quant = "transform(sub, x -> CAST(CAST(round(CAST(x AS DOUBLE) " +
      "* 1000000) AS BIGINT) AS DOUBLE) / 1000000.0)"
    var cents = base.filter(col("vec_id") < k)
      .selectExpr("m", "CAST(vec_id AS INT) AS cell", s"$quant AS centroid")
    // final-round barrier only — the rounds nest linearly (see
    // kmeansCentroidsOf), so collapsing them into one job is safe and
    // saves a scheduler+checkpoint round-trip per iteration
    for (i <- 1 to PQ_ITERS) {
      val next = pqRecompute(pqAssign(base, cents))
      cents = if (i == PQ_ITERS) graft.Checkpoint.barrier(next) else next
    }
    cents
  }

  /** The compressed corpus: 4 codebook codes per vector (the 64×
    * compression artifact a deployment would persist instead of the float
    * column). Wide shape (c0..c3) so downstream ADC joins are plain
    * equi-joins; codes gate against a DuckDB re-training of all four
    * codebooks.
    */
  def pqCodes(s: SparkSession, d: String): DataFrame =
    pqCodesOf(s, d, pqCodebooks(s, d))

  /** [[pqCodes]] under ALREADY-TRAINED codebooks — the sharing hook: the
    * ADC/IVF-PQ probes train once and encode + build their LUT from the
    * same codebook table (training twice doubled the probe cost).
    */
  private def pqCodesOf(s: SparkSession, d: String, cents: DataFrame): DataFrame =
    pqCodesOfBase(pqSubCorpus(s, d), cents)

  /** Encode an explicit base under already-trained codebooks — the
    * incremental index path encodes only the arrival batch.
    */
  private def pqCodesOfBase(subBase: DataFrame, cents: DataFrame,
      m: Int = PQ_M): DataFrame =
    pqAssign(subBase, cents)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("cell")))).as("mc"))
      .selectExpr("vec_id" +:
        (0 until m).map(i => s"CAST(mc[$i].cell AS INT) AS c$i"): _*)
      .orderBy("vec_id")

  /** ADC top-k probe over the compressed corpus: build the per-query LUT
    * (M·K partial L2² doubles — here 8 queries × 32 entries), broadcast
    * its four subspace slices, and resolve each candidate's approximate
    * distance as `part0 + part1 + part2 + part3` — a FIXED left-to-right
    * sum of four doubles, so Spark and DuckDB agree bit-exactly (a SUM()
    * over the parts would be aggregation-order-dependent). The corpus
    * side touches only the 4-code table: one scan, four broadcast joins,
    * the bounded aggregator ranking tail — no shuffle of the corpus, no
    * float vectors read at query time.
    */
  def annPqAdc(s: SparkSession, d: String): DataFrame = {
    // one training feeds BOTH the encoder and the LUT (the codebooks are
    // already barrier-materialized per round, so `cents` is a cheap local
    // table here, not a recomputation)
    val cents = pqCodebooks(s, d)
    pqProbe(s, d, cents, graft.Checkpoint.barrier(pqCodesOf(s, d, cents)))
  }

  /** The per-query ADC LUT folded into ONE broadcastable row per query:
    * `parts[m][code]` = partial L2² of the query's m-th sub-vector
    * against codebook entry `code`. A candidate's approximate distance is
    * then four 0-based array lookups off a single broadcast join on
    * query_id — versus the previous shape's four separate broadcast
    * hash joins on (query_id, c_m), which materialized four broadcast
    * jobs and four join stages per probe. The part doubles pass through
    * collect_list untouched, so the summed distance stays bit-identical.
    * Input: (query_id, m, code, part); codes and subspace ids are dense
    * 0-based, and array_sort on the (key, value) struct orders by key, so
    * position == id in both nestings.
    */
  // private[graft] for PqSpec: the density guard must be provable by a
  // spec that retrains with an emptied cell, not just asserted in prose
  private[graft] def lutParts(lut: DataFrame, k: Int = PQ_K,
      m: Int = PQ_M): DataFrame =
    lut.groupBy(col("query_id"), col("m"))
      .agg(array_sort(collect_list(struct(col("code"), col("part")))).as("cp"))
      .select(col("query_id"), col("m"),
        // position == code is load-bearing for adcSumM's 0-based lookups:
        // a training round that left a codebook cell empty would drop it
        // from the LUT and silently shift every higher code's position,
        // so non-density fails loudly here instead of misaligning
        expr(s"""transform(cp, (x, i) -> CASE
          WHEN size(cp) = $k AND x.code = i THEN x.part
          ELSE raise_error('lutParts: non-dense PQ codebook — codes must be exactly 0..K-1 per subspace') END)""").as("row"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("row")))).as("mr"))
      .select(col("query_id"),
        expr(s"""transform(mr, (x, i) -> CASE
          WHEN size(mr) = $m AND x.m = i THEN x.row
          ELSE raise_error('lutParts: non-dense subspace ids — m must be exactly 0..M-1') END)""").as("parts"))

  /** (K, M) of a TRAINED codebook table — (max code + 1, max m + 1), one
    * job. The index-served paths derive both from the stored artifact,
    * so one serve implementation works for every code budget and
    * subspace split; an empty codebook cell still trips [[lutParts]]'
    * density guard (the cell is absent from the table, so max+1 exceeds
    * the LUT's entry count).
    */
  private def codebookShape(pcents: DataFrame): (Int, Int) = {
    val r = pcents.agg(max(col("cell")), max(col("m"))).head()
    (r.getInt(0) + 1, r.getInt(1) + 1)
  }

  /** Fixed left-to-right M-part ADC sum via the parts lookup — the same
    * addition order as the oracle's `part0 + part1 + … + part{M-1}`.
    */
  private def adcSumM(m: Int): String =
    (0 until m).map(i => s"parts[$i][c$i]").mkString(" + ")

  /** The per-query ADC LUT ([[lutParts]]) from the queries' sub-vectors
    * — (query id, m, sub) rows — against the codebooks: ONE copy for
    * every PQ probe, raw or residual, self-contained or served.
    */
  private def adcLut(qSub: DataFrame, pcents: DataFrame, k: Int = PQ_K,
      m: Int = PQ_M): DataFrame =
    lutParts(qSub.toDF("query_id", "m", "q_sub")
      .join(broadcast(pcents), Seq("m"))
      .withColumn("part",
        graft.functions.GraftFunctions.l2_sq(col("q_sub"), col("centroid")))
      .select(col("query_id"), col("m"), col("cell").as("code"), col("part")),
      k, m)

  /** The ranking tail of every quantized probe: (query_id, sim = −distance,
    * vec_id) candidates through the bounded top-k aggregator, surfaced as
    * (query_id, vizinho, `name` = distance, rank). -(-x) is exact in
    * IEEE, so the surfaced distance is bit-identical to the oracle's.
    */
  private def rankByDistance(s: SparkSession, sims: DataFrame,
      name: String = "adist"): DataFrame =
    rankViaTopK(s, sims)
      .select(col("query_id"), col("vizinho"), (-col("sim")).as(name),
        col("rank"))
      .orderBy("query_id", "rank")

  /** The ADC probe tail of the flat PQ index: LUT from `cents`,
    * candidates from `codes`, fixed-order 4-part sum, bounded top-k.
    */
  private def pqProbe(s: SparkSession, d: String, cents: DataFrame,
      codes: DataFrame): DataFrame = {
    val lut = adcLut(pqSubCorpus(s, d).filter(col("vec_id") < N_QUERIES), cents)
    rankByDistance(s, codes.crossJoin(broadcast(lut))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), (-expr(adcSumM(PQ_M))).as("sim"), col("vec_id")))
  }

  /** Persist the PQ index: the four codebooks (tiny) plus the 4-code
    * compressed corpus — at 100 TB this is the table that replaces the
    * float column in every ANN-serving read (64× smaller; here parquet,
    * unpartitioned because ADC scans all codes — compose with the coarse
    * IVF cells when pruning is wanted, as [[annIvfPq]] does).
    */
  def buildPqIndex(s: SparkSession, d: String, indexDir: String): Unit = {
    val cents = pqCodebooks(s, d)
    cents.write.mode("overwrite").parquet(s"$indexDir/codebooks")
    pqCodesOf(s, d, cents).write.mode("overwrite").parquet(s"$indexDir/codes")
    // stamp what the codebooks were trained ON (same reuse contract as
    // the k-means index's coarse centroids)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$indexDir/_fingerprint"), datasetFingerprint(d))
  }

  /** ADC probe served from the persisted PQ index: training amortized
    * into the build; the query path reads two parquet tables and runs the
    * broadcast-LUT joins. Identical results — gates against the same
    * oracle as q_ann_pq.
    */
  def annPqIndexed(s: SparkSession, d: String, indexDir: String): DataFrame =
    pqProbe(s, d, s.read.parquet(s"$indexDir/codebooks"),
      s.read.parquet(s"$indexDir/codes"))

  /** Driver-contract wrapper (staleness-fingerprinted build-once). */
  def annPqIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_pq", buildPqIndex(s, d, _), annPqIndexed(s, d, _))

  // ------------------------------------------------------------ IVF-PQ
  // The two trained stages composed, exactly the architecture a
  // production vector index runs at corpus scale: the coarse k-means
  // quantizer routes the query to its L2-nearest cell (search space
  // drops to ~N/k candidates, partition-prunable), and WITHIN the cell
  // candidates are ranked by ADC over the compressed codes (corpus
  // floats never touched at query time).
  //
  // `residual` picks what the PQ stage encodes. Raw codes encode the
  // vector itself. Residual codes follow classic IVF-PQ (Jégou, Douze,
  // Schmid — "Product Quantization for Nearest Neighbor Search", TPAMI
  // 2011) and encode vec − coarse_centroid(assigned cell): the residual
  // distribution is centered and much lower-variance than the raw
  // corpus (the coarse quantizer has already explained the between-cell
  // structure), so the same codebook budget spends its entries on
  // within-cell detail — where compressed-family recall comes from (r14:
  // raw-trained codebooks reach 0.30@5 vs 0.975 for the uncompressed
  // kmeans probe). Everything else — ADC, the code layout, the
  // cell-partitioned store, append/delete/compact — is one code path;
  // the encoder changes only (a) what the codebooks train on, (b) what
  // the codes encode, (c) what the query LUT is built from (the query's
  // residual against its ROUTED cell's centroid). Every form gates
  // bit-exactly: the oracles re-derive both trainings (and the residual
  // subtraction) and the composed probe.

  /** Each vector's residual against its assigned coarse centroid:
    * (vec_id, cell, embedding = vec − centroid[cell]) with the residual
    * in double (float→double widening is exact, so the subtraction is
    * one exact IEEE op the oracle reproduces bit-identically). One
    * broadcast assignment pass + one broadcast centroid join — no
    * corpus shuffle.
    */
  private def residualsUnder(s: SparkSession, base: DataFrame,
      cents: DataFrame): DataFrame =
    assignCells(s, base, cents).select("vec_id", "embedding", "cell")
      .join(broadcast(cents), Seq("cell"))
      .selectExpr("vec_id", "cell",
        "zip_with(embedding, centroid, (x, y) -> CAST(x AS DOUBLE) - y) AS embedding")

  /** What the PQ stage encodes for `base` under the coarse centroids —
    * (vec_id, embedding) — and each vector's (vec_id, cell). Raw: the
    * float vectors themselves, cells from one assignment pass. Residual:
    * vec − centroid[cell], materialized once because the residuals feed
    * the encode and the cells alike.
    */
  private def pqInput(s: SparkSession, base: DataFrame, cents: DataFrame,
      residual: Boolean): (DataFrame, DataFrame) =
    if (residual) {
      val res = graft.Checkpoint.barrier(residualsUnder(s, base, cents))
      (res.select("vec_id", "embedding"), res.select("vec_id", "cell"))
    } else (base, assignCells(s, base, cents).select("vec_id", "cell"))

  /** The composed store's rows: the m codes of each encoded vector plus
    * its coarse cell.
    */
  private def cellCodes(enc: DataFrame, cells: DataFrame, pcents: DataFrame,
      m: Int): DataFrame =
    pqCodesOfBase(pqSubOf(enc, m), pcents, m).join(cells, Seq("vec_id"))

  /** ADC candidate scores — (query_id, sim = −adist, vec_id) for every
    * code row in the query's routed cell, the fixed-order m-part sum off
    * the query's broadcast LUT row.
    */
  private def adcSims(routed: DataFrame, codes: DataFrame, lut: DataFrame,
      m: Int): DataFrame =
    routed.join(codes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(lut), Seq("query_id"))
      .select(col("query_id"), (-expr(adcSumM(m))).as("sim"), col("vec_id"))

  /** The self-contained IVF-PQ probe: both trainings, the encode, and
    * the composed ADC probe in one call. `k` codebook entries per
    * subspace, `m` subspaces.
    */
  def annIvfPq(s: SparkSession, d: String, residual: Boolean = false,
      k: Int = PQ_K, m: Int = PQ_M): DataFrame =
    rankByDistance(s, ivfPqAdcSims(s, d, residual, k, m))

  /** The self-contained probe's ADC candidate scores — shared by the
    * plain top-k gate and the refined (exact re-rank) gate so the two
    * probes rank the same candidate stream.
    */
  private def ivfPqAdcSims(s: SparkSession, d: String, residual: Boolean,
      k: Int, m: Int): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    // raw codes: the two trainings are INDEPENDENT (full-vector Lloyd,
    // per-subspace codebooks) and each is a chain of small barrier jobs
    // that leaves most of the cluster idle — submit them concurrently so
    // the training wall is max, not sum (both are deterministic, so
    // results are unchanged). Residual codebooks train on residuals
    // under the centroids, so they wait for Lloyd.
    val (cents, rawCodebooks) =
      if (residual) (kmeansCentroids(s, d), None)
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fCents = Future(kmeansCentroids(s, d))
        val fPcents = Future(pqCodebooksOf(pqSubOf(base, m), k))
        (Await.result(fCents, Duration.Inf),
          Some(Await.result(fPcents, Duration.Inf)))
      }
    val (enc, cells) = pqInput(s, base, cents, residual)
    val pcents = rawCodebooks.getOrElse(pqCodebooksOf(pqSubOf(enc, m), k))
    // ONE materialization job carries the whole serving index: the codes
    // joined with the coarse cell per vector. It feeds the candidate set
    // AND the query routing — a query vector's nProbe=1 route is, by
    // definition, its own L2 assignment under the same (dist ASC,
    // cell ASC) tie-break, so routing needs no separate crossJoin +
    // window (and a residual query's routed residual is its own row)
    val indexed = graft.Checkpoint.barrier(cellCodes(enc, cells, pcents, m))
    val routed = indexed.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("cell"))
    adcSims(routed, indexed,
      adcLut(pqSubOf(enc.filter(col("vec_id") < N_QUERIES), m), pcents, k, m),
      m)
  }

  /** Re-rank candidate depth for the refined probe: the exact re-rank
    * reads 4 × TOP_K original vectors per query — a constant factor over
    * serving top-k, vanishing next to the corpus scan ADC avoided.
    */
  private val REFINE_C = 4 * TOP_K

  /** The composed IVF-PQ probe WITH exact re-rank (refine) — the
    * standard recall repair for quantized serving: ADC distances off
    * compressed codes are recall-bounded by quantization error, so the
    * top `c` ADC candidates are re-scored against their ORIGINAL vectors
    * (ONE equi-join on vec_id — at scale, a point-lookup read of
    * c·|queries| vectors from the primary store, never a corpus scan)
    * and the final top-k ranks by exact L2². The oracle recomputes both
    * trainings, the ADC shortlist, and the exact re-scoring — bit-exact.
    *
    * `c` is the knob that matters on a distance-concentrated corpus
    * (unit vectors, top-5 vs 6th-neighbor gaps of ~0.003 on distances
    * ~1.1, measured at sf0.1): no compressed-domain ranking can separate
    * gaps that small at ANY code budget (the K=64 / M=16 recall rows
    * prove it), so the production recall lever is ADC-as-shortlist +
    * exact re-rank, and recall climbs with c toward the routing ceiling
    * while the re-rank stays O(c·|queries|) point lookups.
    */
  def annIvfPqRefined(s: SparkSession, d: String, residual: Boolean = false,
      k: Int = PQ_K, m: Int = PQ_M, c: Int = REFINE_C): DataFrame =
    refineExact(s, d, ivfPqAdcSims(s, d, residual, k, m), c)

  /** The exact re-rank tail over any (query_id, sim = −adist, vec_id)
    * ADC candidate stream — shared by the self-contained refined probe
    * and the index-served refined probe, so the two forms re-score the
    * identical shortlist shape and gate against the same oracle.
    */
  private def refineExact(s: SparkSession, d: String,
      adcSims: DataFrame, c: Int = REFINE_C): DataFrame = {
    import s.implicits._
    // ADC shortlist: top-c through the same bounded aggregator
    // tail as the plain probe (partial+final aggregate, O(c) state)
    val aggC = graft.functions.TopKByScore(c).toColumn
    val shortlist = adcSims.as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, sim, id) => (sim, id) }
      .agg(aggC.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), explode(col("top")).as("p"))
      .select(col("query_id"), col("p._2").as("vec_id"))
    val base = corpus(s, d).select("vec_id", "embedding")
    val q = base.filter(col("vec_id") < N_QUERIES).toDF("query_id", "q_emb")
    val exact = shortlist.join(base, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"),
        (-graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("embedding")))
          .as("sim"),
        col("vec_id"))
    rankByDistance(s, exact, "dist")
  }

  /** Persist the COMPOSED IVF-PQ index over the full corpus — coarse
    * centroids, the PQ codebooks, and the code table carrying each
    * vector's coarse cell, `partitionBy(cell)` so a routed probe's scan
    * prunes to its cell's code partitions: both trainings run once at
    * build time, the probe touches neither raw vectors nor training.
    *
    * `centroidsFrom`: an existing k-means index dir whose TRAINED coarse
    * centroids this build reuses instead of re-running Lloyd — the two
    * indexes share one quantizer training, which is both the cheaper and
    * the operationally correct lifecycle (one quantizer per corpus, many
    * artifacts derived from it). `codebooksFrom`: likewise a flat PQ
    * index's codebooks — raw codes only, since residual codebooks train
    * on residuals no flat index saw. Reuse is guarded by the dataset
    * fingerprint stamped at build time; a mismatch (or absent stamp)
    * falls back to training. Both trainings are deterministic, so served
    * probes are byte-identical either way.
    */
  def buildIvfPqIndex(s: SparkSession, d: String, indexDir: String,
      centroidsFrom: Option[String] = None,
      codebooksFrom: Option[String] = None,
      residual: Boolean = false): Unit = {
    // an artifact dir qualifies for reuse iff its training stamp matches
    // THIS dataset's fingerprint
    def reused(from: Option[String], table: String): Option[DataFrame] =
      from.filter { dir =>
        val fp = new java.io.File(dir, "_fingerprint")
        fp.exists() &&
          java.nio.file.Files.readString(fp.toPath).trim == datasetFingerprint(d)
      }.map(dir => s.read.parquet(s"$dir/$table"))
    val base = corpus(s, d).select("vec_id", "embedding")
    buildIvfPqIndexOn(s, base, base, indexDir, residual,
      centroids = reused(centroidsFrom, "centroids"),
      codebooks = reused(codebooksFrom.filter(_ => !residual), "codebooks"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$indexDir/_fingerprint"), datasetFingerprint(d))
  }

  /** The composed IVF-PQ build over explicit bases: both trainings run
    * on `trainBase` (the corpus as of build time) unless already-trained
    * `centroids`/`codebooks` are given, the code table encodes +
    * coarse-assigns `assignBase`. [[buildIvfPqIndex]] passes the full
    * corpus for both; the incremental lifecycle trains on the build
    * slice and lets [[appendIvfPqIndex]] fold arrivals in.
    */
  private[graft] def buildIvfPqIndexOn(s: SparkSession, trainBase: DataFrame,
      assignBase: DataFrame, indexDir: String, residual: Boolean = false,
      k: Int = PQ_K, m: Int = PQ_M, centroids: Option[DataFrame] = None,
      codebooks: Option[DataFrame] = None): Unit = {
    val cents = centroids.getOrElse(kmeansCentroidsOf(trainBase))
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val pcents = codebooks.getOrElse(pqCodebooksOf(
      pqSubOf(pqInput(s, trainBase, cents, residual)._1, m), k))
    pcents.write.mode("overwrite").parquet(s"$indexDir/codebooks")
    val (enc, cells) = pqInput(s, assignBase, cents, residual)
    cellCodes(enc, cells, pcents, m)
      .withColumn("batch", lit(-1L))
      .write.mode("overwrite").partitionBy("cell", "batch")
      .parquet(s"$indexDir/codes")
  }

  /** Incremental maintenance for the COMPOSED index — the compressed
    * twin of [[appendIvfIndexKmeans]]: the arrival batch is encoded with
    * the STORED codebooks (raw or residual, as the index was built),
    * coarse-assigned to the STORED centroids, and appended into the
    * routed cell partitions. No training, no rescan of indexed codes —
    * O(|batch|) work, and the appended index is bit-indistinguishable
    * from one built with the arrivals present (same deterministic
    * encoders), which q_ann_ivfpq{,_residual}_incr gate end to end.
    */
  private[graft] def appendIvfPqIndex(s: SparkSession, newRows: DataFrame,
      indexDir: String, batchId: Long, residual: Boolean = false): Unit = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val pcents = s.read.parquet(s"$indexDir/codebooks")
    val (enc, cells) = pqInput(s, newRows, cents, residual)
    // same exactly-once shape as appendIvfIndexKmeans: the batch owns its
    // (cell, batch) partitions, so a replay overwrites itself
    cellCodes(enc, cells, pcents, codebookShape(pcents)._2)
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch")
      .parquet(s"$indexDir/codes")
  }

  /** Tombstone DELETE for a persisted index — the missing third of the
    * index lifecycle (build / append / delete). O(|delete batch|) write:
    * deleted ids land in a keyed tombstone store under the index root
    * (batch-partitioned, so a replayed delete overwrites itself — the
    * same exactly-once shape as the appends); no retrain, no code
    * rescan. Every index-served read anti-joins the tombstone set
    * (broadcast — deletes are a vanishing fraction of a 100 TB corpus),
    * so a delete is visible at the NEXT read; [[compactIvfPqIndex]]
    * folds accumulated tombstones into the code partitions when their
    * count warrants paying the rewrite. The store is encoder-agnostic.
    */
  private[graft] def deleteIvfPq(s: SparkSession, ids: DataFrame,
      indexDir: String, batchId: Long): Unit =
    ids.select(col("vec_id").cast("long").as("vec_id"))
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$indexDir/tombstones")

  /** The live tombstone set of an index, if any delete has happened. */
  private[graft] def tombstonesOf(s: SparkSession,
      indexDir: String): Option[DataFrame] =
    if (new java.io.File(s"$indexDir/tombstones").exists())
      Some(s.read.parquet(s"$indexDir/tombstones").select("vec_id").distinct())
    else None

  /** `rows` of an index store minus its tombstoned ids: a delete is
    * visible at the next read as an O(|tombstones|) broadcast anti-join,
    * without any store rewrite (no-op when no delete happened).
    */
  private def liveRows(s: SparkSession, indexDir: String,
      rows: DataFrame): DataFrame =
    tombstonesOf(s, indexDir).fold(rows)(t =>
      rows.join(broadcast(t), Seq("vec_id"), "left_anti"))

  /** Fold tombstones into the code store and clear them: the shared
    * (cell, batch) partition fold rewrites ONLY the partitions that hold
    * a tombstoned row ([[graft.Tombstones.fold]]). After compaction a
    * serve with no tombstones is byte-identical to the tombstone-masked
    * serve — IvfIndexSpec pins it.
    */
  private[graft] def compactIvfPqIndex(s: SparkSession, indexDir: String): Unit =
    tombstonesOf(s, indexDir).foreach { t =>
      graft.Tombstones.fold(s, s"$indexDir/codes", "vec_id", "cell", t): Unit
      graft.Scratch.rmTree(s"$indexDir/tombstones")
    }

  /** The delete-set convention of the gated lifecycle: every 5th id
    * (mod 5 == 4), which intersects BOTH the original build slice
    * (ids ≡ 4 mod 10) and the appended arrival slice (ids ≡ 9 mod 10) —
    * so the gate proves deletion works against built AND appended
    * partitions; query vectors are never deleted.
    */
  private[graft] val DeleteVictims =
    col("vec_id") % 5 === 4 && col("vec_id") >= N_QUERIES

  /** The gated index lifecycle: build on 9/10 of the corpus, cell-append
    * the arriving 1/10 under the stored trainings, and (`delete`)
    * tombstone-delete every (mod-5) 5th id — returning the per-process
    * `ivfpq[res]_<tag>` dir. Every step is replay-idempotent.
    */
  private def ivfPqLifecycleDir(s: SparkSession, d: String, tag: String,
      residual: Boolean, delete: Boolean): String = {
    val dir = graft.Scratch.processDir(d,
      s"${if (residual) "ivfpqres" else "ivfpq"}_$tag")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildIvfPqIndexOn(s, base.filter(!IncrArrival), base.filter(!IncrArrival),
      dir, residual)
    appendIvfPqIndex(s, base.filter(IncrArrival), dir, batchId = 0L, residual)
    if (delete)
      deleteIvfPq(s, base.filter(DeleteVictims).select("vec_id"), dir,
        batchId = 1L)
    dir
  }

  /** The incremental IVF-PQ lifecycle as a gated query (the composed
    * sibling of [[annIvfKmeansIncr]]): build on 9/10, append the
    * arriving 1/10, serve the standard ADC probe from the appended
    * index. Oracle: both trainings over the build slice, encode +
    * assignment over the FULL corpus, composed probe — bit-exact.
    */
  def annIvfPqIncr(s: SparkSession, d: String,
      residual: Boolean = false): DataFrame =
    annIvfPqIndexed(s, d,
      ivfPqLifecycleDir(s, d, "incr", residual, delete = false), residual)

  /** The full index lifecycle gated: build, append, tombstone-delete,
    * serve. The oracle computes the one-shot probe over the SURVIVING
    * candidate set (same trainings — a delete must not retrain), so a
    * hash match proves tombstone masking is exactly set-minus, across
    * built and appended partitions alike.
    */
  def annIvfPqDeleted(s: SparkSession, d: String,
      residual: Boolean = false): DataFrame =
    annIvfPqIndexed(s, d,
      ivfPqLifecycleDir(s, d, "del", residual, delete = true), residual)

  /** Same lifecycle + [[compactIvfPqIndex]] before the serve: the
    * physical fold of the tombstones must answer identically to the
    * logical mask (same oracle) — and after it the store carries no
    * tombstones at all.
    */
  def annIvfPqDeletedCompacted(s: SparkSession, d: String,
      residual: Boolean = false): DataFrame = {
    val dir = ivfPqLifecycleDir(s, d, "delc", residual, delete = true)
    compactIvfPqIndex(s, dir)
    annIvfPqIndexed(s, d, dir, residual)
  }

  /** The refined (exact re-rank) probe over the deleted index: the
    * tombstone mask removes victims from the ADC shortlist, so the
    * point-lookup re-rank only ever touches surviving ids — delete and
    * refine compose with no extra machinery, which this gate pins.
    */
  def annIvfPqRefinedDeleted(s: SparkSession, d: String): DataFrame =
    annIvfPqRefinedIndexed(s, d,
      ivfPqLifecycleDir(s, d, "del", residual = false, delete = true))

  /** [[annIvfPq]] served from the persisted composed index (built with
    * the same `residual`): route on the stored coarse centroids
    * (broadcast), scan ONLY the routed cells' code partitions (the
    * collected cell-id set is O(queries) rows — the same
    * PartitionFilters device as [[probeIndexedCells]]; tombstone-masked
    * when a delete happened), rank by ADC against the stored codebooks.
    * Bit-identical to the self-contained form — the routed cell's
    * (dist ASC, cell ASC) window tie-break matches assignCells'
    * struct-min exactly — so it gates against the same oracle.
    */
  def annIvfPqIndexed(s: SparkSession, d: String, indexDir: String,
      residual: Boolean = false): DataFrame =
    rankByDistance(s, ivfPqIndexedAdcSims(s, d, indexDir, residual))

  /** The index-served ADC candidate scores — the stored-index twin of
    * [[ivfPqAdcSims]], shared by the plain indexed probe and the
    * refined (exact re-rank) indexed probe.
    */
  private def ivfPqIndexedAdcSims(s: SparkSession, d: String,
      indexDir: String, residual: Boolean): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val pcents = s.read.parquet(s"$indexDir/codebooks")
    val (k, m) = codebookShape(pcents)
    val q = corpus(s, d).filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val near = routeToCell(q, cents)
    // the LUT is built from what the codes encode: the query's float
    // vector, or its residual against the ROUTED cell's centroid
    val routed = graft.Checkpoint.barrier(
      if (residual)
        near.join(broadcast(cents), Seq("cell")).selectExpr("query_id", "cell",
          "zip_with(q_emb, centroid, (x, y) -> CAST(x AS DOUBLE) - y) AS q_vec")
      else near.withColumnRenamed("q_emb", "q_vec"))
    val probedCells = routed.select("cell").distinct().collect().map(_.getInt(0))
    val codes = liveRows(s, indexDir, s.read.parquet(s"$indexDir/codes")
      .filter(col("cell").isin(probedCells.toSeq: _*)))
    val qSub = pqSubOf(
      routed.select(col("query_id").as("vec_id"), col("q_vec").as("embedding")), m)
    adcSims(routed.select("query_id", "cell"), codes,
      adcLut(qSub, pcents, k, m), m)
  }

  /** [[annIvfPqRefined]] served from the persisted composed index: the
    * ADC shortlist comes off the stored codes (partition-pruned to the
    * routed cells), and ONLY the re-rank touches original vectors —
    * c·|queries| point lookups, which is the production read pattern: a
    * query never scans raw vectors, it refines a 4·k-deep compressed
    * shortlist. Stored centroids/codebooks are the same trainings the
    * self-contained form recomputes, so this gates BIT-EXACTLY against
    * the same refined oracle.
    */
  def annIvfPqRefinedIndexed(s: SparkSession, d: String,
      indexDir: String): DataFrame =
    refineExact(s, d, ivfPqIndexedAdcSims(s, d, indexDir, residual = false))

  /** Query-map wrapper (staleness-fingerprinted build-once). */
  def annIvfPqIndexedAuto(s: SparkSession, d: String,
      residual: Boolean = false): DataFrame =
    annIvfPqIndexed(s, d, ivfPqAutoDir(s, d, residual), residual)

  /** Driver-contract wrapper for the index-served refined probe (shares
    * the raw composed index with [[annIvfPqIndexedAuto]] — build once,
    * refine many).
    */
  def annIvfPqRefinedIndexedAuto(s: SparkSession, d: String): DataFrame =
    annIvfPqRefinedIndexed(s, d, ivfPqAutoDir(s, d, residual = false))

  /** The build-once composed index of the auto wrappers. The
    * build sources its coarse centroids from the auto k-means index (and
    * raw codes their codebooks from the auto PQ index) when that is
    * already built for this dataset — the gate order runs
    * q_ann_ivf_kmeans_indexed first, so in practice the Lloyd training
    * runs once per (dataset, JVM tmpdir) across the indexes.
    */
  private def ivfPqAutoDir(s: SparkSession, d: String,
      residual: Boolean): String = {
    def built(suffix: String): Option[String] = {
      val dir = defaultIndexDir(d) + suffix
      if (new java.io.File(dir, "_built").exists()) Some(dir) else None
    }
    graft.StorePublish.publishOnce(
      defaultIndexDir(d) + (if (residual) "_ivfpqres" else "_ivfpq"))(
      buildIvfPqIndex(s, d, _, built("_km"), built("_pq"), residual))
  }

  /** Gated flat view of the trained centroids. */
  def kmeansCentroidsFlat(s: SparkSession, d: String): DataFrame =
    kmeansCentroids(s, d)
      .select(col("cell"), posexplode(col("centroid")).as(Seq("pos", "m")))
      .select(col("cell"), (col("pos") + 1).cast("int").as("i"), col("m"))
      .orderBy("cell", "i")

  /** Builds the PERSISTED IVF index: a tiny centroid table plus the whole
    * corpus assigned to its cell, parquet-partitioned BY cell so a probe
    * touches only the probed cells' files (partition pruning at the scan).
    * This is the real IVF lifecycle — train once, query many — vs
    * [[annIvfProbe]], which re-derives centroids per invocation (kept as
    * the self-contained form the oracle recomputes).
    */
  def buildIvfIndex(s: SparkSession, d: String, indexDir: String): Unit = {
    val base = corpus(s, d)
    centroids(base).write.mode("overwrite").parquet(s"$indexDir/centroids")
    base.select(col("vec_id"), col("embedding"), col("label").as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/cells")
  }

  /** Persisted index under the TRAINED k-means quantizer: Lloyd training
    * runs once at build time; the probe path below only reads parquet.
    * Same layout as the label index (tiny centroid table + cells
    * partitioned for pruning), but the centroids are the trained means
    * and the cell assignment is each vector's L2 argmin.
    */
  def buildIvfIndexKmeans(s: SparkSession, d: String, indexDir: String): Unit = {
    val base = corpus(s, d).select("vec_id", "embedding")
    buildIvfIndexKmeansOn(s, base, base, indexDir, datasetFingerprint(d))
  }

  /** The k-means index build over explicit bases: Lloyd trains on
    * `trainBase`, the cells table assigns `assignBase` — identical when
    * called from [[buildIvfIndexKmeans]]; the incremental path trains on
    * the corpus-as-of-build-time and assigns the same, with later
    * arrivals joining via [[appendIvfIndexKmeans]]. Alongside the cells
    * the build persists a one-row `stats` table (the training-time mean
    * assignment distance) — the reference point drift detection compares
    * new arrivals against.
    */
  private[graft] def buildIvfIndexKmeansOn(s: SparkSession, trainBase: DataFrame,
      assignBase: DataFrame, indexDir: String, stamp: String): Unit = {
    val cents = kmeansCentroidsOf(trainBase)
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val asg = graft.Checkpoint.barrier(assignCells(s, assignBase, cents))
    // cells carry a second `batch` partition level (-1 = the build) so
    // incremental appends land in per-(cell, batch) partitions that a
    // foreachBatch REPLAY can dynamically overwrite instead of
    // duplicating — the exactly-once contract of the streamed ingest
    asg.select(col("vec_id"), col("embedding"), col("cell"))
      .withColumn("batch", lit(-1L))
      .write.mode("overwrite").partitionBy("cell", "batch")
      .parquet(s"$indexDir/cells")
    asg.agg(avg(col("dist")).as("mean_dist"), count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
    // stamp what the centroids were trained ON, so a composed index build
    // may reuse them iff the stamp matches its own dataset
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$indexDir/_fingerprint"), stamp)
  }

  /** INCREMENTAL index maintenance — cell-append for newly-arrived
    * vectors: assign the batch to the STORED centroids (one broadcast
    * join over the batch only — no training, no rescan of the indexed
    * corpus) and append the assignments into the cell partitions; files
    * already in the index are never read or rewritten, so the append
    * costs O(|batch|) against the full rebuild's O(|corpus| × rounds).
    *
    * Returns the DRIFT RATIO: the batch's mean assignment distance over
    * the training-time mean from the build's `stats` table. In-
    * distribution arrivals land near 1.0; a ratio past the caller's
    * threshold (2× is a reasonable default) says the stored quantizer no
    * longer represents the data and the next maintenance window should
    * RETRAIN (a full [[buildIvfIndexKmeansOn]]) instead of appending —
    * the retrain-on-drift contract, decided by measurement rather than
    * cadence. IvfIndexSpec pins both halves: split-arrival ≡ full-build
    * probes, and scaled-out arrivals push the ratio past the threshold.
    */
  private[graft] def appendIvfIndexKmeans(s: SparkSession, newRows: DataFrame,
      indexDir: String, batchId: Long): Double = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val asg = graft.Checkpoint.barrier(assignCells(s, newRows, cents))
    // dynamic overwrite of THIS batch's (cell, batch) partitions only:
    // indexed files from the build and other batches are untouched, and
    // a replay of the same batchId replaces its own partitions instead
    // of appending beside them — idempotent under foreachBatch redelivery
    asg.select(col("vec_id"), col("embedding"), col("cell"))
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch")
      .parquet(s"$indexDir/cells")
    val batchMean = asg.agg(avg(col("dist"))).head.getDouble(0)
    val trainMean = s.read.parquet(s"$indexDir/stats")
      .head.getAs[Double]("mean_dist")
    batchMean / trainMean
  }

  /** Deterministic arrival split for the incremental gate: every 10th
    * vector is a "new arrival"; the training init ids (vec_id < KMEANS_K)
    * all sit in the base slice, so the build-time quantizer is
    * well-defined.
    */
  private[graft] val IncrArrival = col("vec_id") % 10 === 9

  /** The incremental lifecycle as a gated query: build the index on the
    * corpus-as-of-build-time (9/10 of the vectors), cell-append the
    * arrivals (the remaining 1/10, no retraining), then serve the
    * standard probe from the appended index. The DuckDB oracle re-trains
    * Lloyd on the build slice and assigns the FULL corpus under those
    * centroids — exactly what build+append must land on, bit-exactly.
    */
  def annIvfKmeansIncr(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "ivf_incr")
    val base = corpus(s, d).select("vec_id", "embedding")
    // the stamp records what the centroids were trained ON — here the
    // 9/10 build slice, NOT the full dataset — so it must never equal
    // datasetFingerprint(d) or a composed build with centroidsFrom at
    // this dir would silently reuse slice-trained centroids as full-corpus
    buildIvfIndexKmeansOn(s, base.filter(!IncrArrival), base.filter(!IncrArrival),
      dir, datasetFingerprint(d) + ":incr")
    appendIvfIndexKmeans(s, base.filter(IncrArrival), dir, batchId = 0L): Unit
    annIvfKmeansIndexed(s, d, dir)
  }

  /** The k-means index's delete lifecycle gated (the raw-vector-store
    * sibling of [[annIvfPqDeleted]]): build on 9/10, cell-append the
    * arriving 1/10, tombstone the mod-5 victims (which span built AND
    * appended partitions), serve. Same survivors oracle discipline.
    */
  def annIvfKmeansDeleted(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "ivf_del")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildIvfIndexKmeansOn(s, base.filter(!IncrArrival), base.filter(!IncrArrival),
      dir, datasetFingerprint(d) + ":del")
    appendIvfIndexKmeans(s, base.filter(IncrArrival), dir, batchId = 0L): Unit
    deleteIvfPq(s, base.filter(DeleteVictims).select("vec_id"), dir, batchId = 1L)
    annIvfKmeansIndexed(s, d, dir)
  }

  /** Index-backed probe under the k-means quantizer: the query routes to
    * its nearest trained centroid by L2 (the quantizer's own metric — for
    * a corpus vector this reproduces its stored assignment, which is what
    * ties this path to the q_ann_ivf_kmeans oracle), the cells scan prunes
    * to the probed partitions, and ranking is the bounded aggregator tail.
    */
  def annIvfKmeansIndexed(s: SparkSession, d: String, indexDir: String): DataFrame = {
    val q = corpus(s, d).filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    probeIndexedCells(s, indexDir,
      routeToCell(q, s.read.parquet(s"$indexDir/centroids")))
  }

  /** Driver-contract wrapper for the k-means index (same staleness
    * fingerprint discipline as [[annIvfIndexedAuto]]).
    */
  def annIvfKmeansIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_km", buildIvfIndexKmeans(s, d, _), annIvfKmeansIndexed(s, d, _))

  /** Index-backed IVF probe: identical semantics (and oracle) to
    * [[annIvfProbe]], but centroids and cell assignments come from the
    * parquet index instead of being re-trained — the query path a serving
    * deployment runs. The probed-cell filter is applied as an `isin` on
    * the partition column (the probe set is O(queries × nProbe) cell ids,
    * collected from the tiny routing result), so the scan plans
    * PartitionFilters and never opens unprobed cells' files.
    */
  def annIvfIndexed(s: SparkSession, d: String, nProbe: Int,
      indexDir: String): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val q = corpus(s, d).filter(col("vec_id") < N_QUERIES)
      .toDF("query_id", "q_label", "q_emb")
    val routed = q.crossJoin(broadcast(cents))
      .withColumn("sim_c",
        graft.functions.GraftFunctions.cosine_sim(col("q_emb"), col("centroid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim_c"), asc("cell"))))
      .filter(col("rk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    probeIndexedCells(s, indexDir, routed)
  }

  /** Index-probe core shared by the label and k-means routed forms: the
    * routing result is materialized once through a checkpoint barrier (so
    * the routing job doesn't run a second time inside the final plan),
    * its O(queries × nProbe) cell ids are collected to drive the
    * partition-pruning isin on the cells scan, and candidates rank
    * through the bounded aggregator tail.
    */
  private def probeIndexedCells(s: SparkSession, indexDir: String,
      routed0: DataFrame): DataFrame = {
    val routed = graft.Checkpoint.barrier(routed0)
    val probedCells = routed.select("cell").distinct().collect().map(_.getInt(0))
    // tombstone mask (shared with the composed store, see deleteIvfPq)
    // on the already-pruned partitions
    val cells = liveRows(s, indexDir, s.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probedCells.toSeq: _*)))
    val hits = routed.join(cells,
        routed("cell") === cells("cell") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), routed("cell"),
        col("vec_id"), col("embedding"))
    rankProbed(s, hits)
  }

  /** Driver-contract wrapper: build the index once per (sf, dataset
    * fingerprint) under java.io.tmpdir, then answer from it. The
    * fingerprint folds every file's path, length and mtime so a regenerated
    * testdata set can never be served from a stale index.
    */
  def annIvfIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "", buildIvfIndex(s, d, _), annIvfIndexed(s, d, 1, _))

  /** Build-once-then-probe with the staleness-fingerprinted location. */
  /** Build-once with ATOMIC publish (shared [[graft.StorePublish]]
    * device): the index is built into a private temp dir and renamed
    * into the fingerprint-keyed location in one filesystem move, so a
    * concurrent JVM can never probe a half-built store — the same
    * contract the BM25/phrase text indexes publish under.
    */
  private def autoIndexed(d: String, suffix: String,
      build: String => Unit, probe: String => DataFrame): DataFrame =
    probe(graft.StorePublish.publishOnce(defaultIndexDir(d) + suffix)(build))

  /** md5 over every embeddings file's (path, length, mtime) — the
    * staleness fingerprint the auto-index locations AND the cross-index
    * centroid reuse key on: regenerated testdata can never be served
    * from, or trained against, a stale artifact.
    */
  private[graft] def datasetFingerprint(d: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val src = new java.io.File(s"$d/embeddings.parquet")
    val sig = walk(src).map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def defaultIndexDir(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_${datasetFingerprint(d)}"

  /** Historical alias: `q_ann_topk_agg` was the aggregator-tail prototype
    * while `q_ann_brute` still ranked via a window. The aggregator tail is
    * now the only brute-force path, so both names resolve to it (each keeps
    * its own oracle in the correctness gate).
    */
  def annTopKAgg(s: SparkSession, d: String): DataFrame = annBruteForce(s, d)

  // ------------------------------------------------ scalar quantization (SQ8)
  // The OTHER point on the compression/recall frontier: 8 bits per
  // DIMENSION (4× smaller than float32, vs PQ's 64×), trained by nothing
  // more than a per-dimension corpus min/max — no Lloyd, no codebooks.
  // Classic uniform scalar quantization (the SQ8 of FAISS's
  // ScalarQuantizer and Milvus's SQ8 index type, per their public docs):
  // code_i = floor((v_i − min_i) / (max_i − min_i) · 255), clamped to
  // [0, 255]; serving reconstructs at bin centers and ranks by exact L2²
  // against the raw query (asymmetric, like ADC — the query is never
  // quantized). Where PQ's recall on this corpus collapses into the
  // refine stage (distance concentration, see BENCH.md's recall table),
  // SQ8's per-dim error is (range/256)²/12 per coordinate — small enough
  // that compressed-domain ranking alone stays near-exact, making it the
  // right first index for corpora where 4× is compression enough. At
  // 100 TB both the training (one min/max aggregation, partial+final,
  // one row out) and the encode (a map over the scan, broadcast min/max
  // row) are single-pass and shuffle-free.
  //
  // Everything is engineered bit-exact vs the DuckDB oracle like the PQ
  // family: min/max of float32 values is arithmetic-free, the code
  // expression is the same textual double fold in both engines, and the
  // reconstruction feeds the shared left-to-right L2² template.

  private val SQ8_LEVELS = 255 // top code: codes span 0..255 inclusive

  /** The paired (Spark, DuckDB) encode expression: per-dim uniform code
    * over a broadcast min/max row; constant dims (mx = mn) encode 0.
    * `i` is the engines' shared 1-based lambda position. BOTH ends of
    * the code range clamp — the incremental paths encode arrivals under
    * a min/max trained on an earlier slice, so an arrival coordinate
    * can land outside the trained range on either side (below min would
    * otherwise floor to a NEGATIVE code, silently breaking the 8-bit
    * store contract; the exactness gates can't see it because the
    * oracle replicates the same expression).
    */
  private def sq8CodeX(v: String, mns: String, mxs: String) =
    graft.text.TextExprs.X(
      spark = s"transform(sequence(1, $DIM), i -> " +
        s"CASE WHEN element_at($mxs, i) = element_at($mns, i) THEN 0 " +
        s"ELSE CAST(least(CAST($SQ8_LEVELS AS DOUBLE), greatest(CAST(0 AS DOUBLE), " +
        s"floor((CAST(element_at($v, i) AS DOUBLE) - element_at($mns, i)) " +
        s"/ (element_at($mxs, i) - element_at($mns, i)) * ${SQ8_LEVELS}.0))) AS INT) END)",
      duck = s"list_transform(generate_series(1, $DIM), i -> " +
        s"CASE WHEN $mxs[i] = $mns[i] THEN 0 " +
        s"ELSE CAST(least(CAST($SQ8_LEVELS AS DOUBLE), greatest(CAST(0 AS DOUBLE), " +
        s"floor(($v[i]::DOUBLE - $mns[i]) " +
        s"/ ($mxs[i] - $mns[i]) * ${SQ8_LEVELS}.0))) AS INTEGER) END)")

  /** Bin-center reconstruction of a code array under the same min/max
    * row — identical textual arithmetic order in both engines.
    */
  private def sq8ReconX(codes: String, mns: String, mxs: String) =
    graft.text.TextExprs.X(
      spark = s"transform(sequence(1, $DIM), i -> " +
        s"element_at($mns, i) + (CAST(element_at($codes, i) AS DOUBLE) + 0.5) " +
        s"* (element_at($mxs, i) - element_at($mns, i)) / ${SQ8_LEVELS}.0)",
      duck = s"list_transform(generate_series(1, $DIM), i -> " +
        s"$mns[i] + ($codes[i]::DOUBLE + 0.5) " +
        s"* ($mxs[i] - $mns[i]) / ${SQ8_LEVELS}.0)")

  /** The trained quantizer, gate shape: one row per dimension with its
    * corpus min/max (0-based `i` to match posexplode). At scale this is
    * ONE partial+final aggregate over the corpus — 64 rows out.
    */
  def sq8MinMax(s: SparkSession, d: String): DataFrame =
    sq8Dims(corpus(s, d)).orderBy("i")

  private def sq8Dims(base: DataFrame): DataFrame = base
    .select(posexplode(col("embedding")).as(Seq("i", "x")))
    .groupBy("i")
    .agg(min(col("x").cast("double")).as("mn"),
      max(col("x").cast("double")).as("mx"))
    .select(col("i").cast("int").as("i"), col("mn"), col("mx"))

  /** The 64-row dims table folded to ONE broadcastable (mns, mxs) row —
    * the artifact every encode and serve joins against.
    */
  private def sq8MinMaxRowOf(base: DataFrame): DataFrame = sq8Dims(base)
    .groupBy()
    .agg(array_sort(collect_list(struct(col("i"), col("mn")))).as("a"),
      array_sort(collect_list(struct(col("i"), col("mx")))).as("b"))
    .selectExpr("transform(a, p -> p.mn) AS mns",
      "transform(b, p -> p.mx) AS mxs")

  /** Encode a corpus under an already-trained min/max row: one scan, one
    * broadcast, no shuffle — the shape that lets the append path encode
    * only the arrival batch.
    */
  private def sq8CodesOfBase(base: DataFrame, mmRow: DataFrame): DataFrame =
    base.crossJoin(broadcast(mmRow))
      .withColumn("codes", expr(sq8CodeX("embedding", "mns", "mxs").spark))
      .select("vec_id", "codes")

  /** The compressed corpus, gate shape: codes folded to a comma string so
    * the exactness compare is representation-stable across engines.
    */
  def sq8Codes(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    sq8CodesOfBase(base, sq8MinMaxRowOf(base))
      .selectExpr("vec_id",
        "array_join(transform(codes, c -> CAST(c AS STRING)), ',') AS codes_str")
      .orderBy("vec_id")
  }

  /** (query_id, −L2², vec_id) candidates of the asymmetric SQ8 probe:
    * one scan of the code table, two broadcasts (min/max row, query
    * set), distance via the fused native [[graft.functions.Kernels
    * .sq8Adist]] kernel — decode-at-bin-center and the L2² fold in one
    * codegen'd pass, never materializing a reconstruction array per
    * candidate (bit-identical to recon + l2_sq by construction; the
    * oracle still verifies the composed SQL form). Never a corpus
    * shuffle.
    */
  private def sq8Sims(s: SparkSession, d: String, mmRow: DataFrame,
      codes: DataFrame): DataFrame = {
    val q = corpus(s, d).filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    codes.crossJoin(broadcast(mmRow)).crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        (-graft.functions.GraftFunctions.sq8_adist(col("q_emb"),
          col("codes"), col("mns"), col("mxs"), SQ8_LEVELS)).as("sim"),
        col("vec_id"))
  }

  private def sq8Probe(s: SparkSession, d: String, mmRow: DataFrame,
      codes: DataFrame): DataFrame =
    rankByDistance(s, sq8Sims(s, d, mmRow, codes))

  /** Self-contained SQ8 top-k: train min/max, encode, probe. */
  def annSq8(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val mm = graft.Checkpoint.barrier(sq8MinMaxRowOf(base))
    sq8Probe(s, d, mm, sq8CodesOfBase(base, mm))
  }

  /** SQ8 shortlist + exact re-rank — the same composed production stack
    * as the PQ refined probes, sharing [[refineExact]] so the re-rank
    * tail is byte-identical across families.
    */
  def annSq8Refined(s: SparkSession, d: String, c: Int = REFINE_C): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val mm = graft.Checkpoint.barrier(sq8MinMaxRowOf(base))
    refineExact(s, d, sq8Sims(s, d, mm, sq8CodesOfBase(base, mm)), c)
  }

  /** Persist the SQ8 index: the one-row min/max table plus the code
    * table — the 4× artifact a deployment scans instead of the float
    * column. Train base and encode base are split for the incremental
    * path (arrivals must encode under the STORED training).
    */
  private[graft] def buildSq8IndexOn(s: SparkSession, trainBase: DataFrame,
      encodeBase: DataFrame, indexDir: String): Unit = {
    val mm = graft.Checkpoint.barrier(sq8MinMaxRowOf(trainBase))
    mm.write.mode("overwrite").parquet(s"$indexDir/minmax")
    sq8CodesOfBase(encodeBase, mm).withColumn("batch", lit(-1L))
      .write.mode("overwrite").partitionBy("batch")
      .parquet(s"$indexDir/codes")
  }

  def buildSq8Index(s: SparkSession, d: String, indexDir: String): Unit = {
    val base = corpus(s, d).select("vec_id", "embedding")
    buildSq8IndexOn(s, base, base, indexDir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$indexDir/_fingerprint"), datasetFingerprint(d))
  }

  /** Clamp-rate retrain trigger: the fraction of appended COORDINATES
    * that saturate the stored 8-bit range. In-distribution arrivals sit
    * near zero (an arrival coordinate can exceed the training slice's
    * range only at the distribution's edge); a shifted arrival
    * distribution saturates codes wholesale — silently, because clamped
    * codes are still valid codes and every exactness gate reproduces
    * them. Past this threshold the maintenance window should RETRAIN
    * (min/max is ONE aggregate — the cheapest retrain in the engine)
    * instead of appending: the SQ8 sibling of the k-means store's
    * mean-distance drift ratio.
    */
  private[graft] val SQ8_CLAMP_RETRAIN = 0.05

  /** Append an arrival batch: encode ONLY the new rows under the stored
    * min/max (no retraining — the contract every index family here
    * keeps), written as a new batch partition so the write is O(batch).
    *
    * Returns the batch's CLAMP RATE (see [[SQ8_CLAMP_RETRAIN]]) — one
    * extra O(|batch|) pass, the monitor the retrain decision reads.
    */
  private[graft] def appendSq8Index(s: SparkSession, newRows: DataFrame,
      indexDir: String, batchId: Long): Double = {
    val mm = s.read.parquet(s"$indexDir/minmax")
    sq8CodesOfBase(newRows, mm).withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$indexDir/codes")
    val clamped = s"aggregate(transform(sequence(1, $DIM), i -> " +
      "CASE WHEN CAST(element_at(embedding, i) AS DOUBLE) < element_at(mns, i) " +
      "OR CAST(element_at(embedding, i) AS DOUBLE) > element_at(mxs, i) " +
      "THEN 1 ELSE 0 END), 0, (a, x) -> a + x)"
    val r = newRows.crossJoin(broadcast(mm))
      .selectExpr(s"$clamped AS nc")
      .agg(sum(col("nc")).cast("double").as("c"),
        count(lit(1)).cast("double").as("n"))
      .head()
    if (r.getDouble(1) == 0.0) 0.0 else r.getDouble(0) / (r.getDouble(1) * DIM)
  }

  /** The drift construction for the retrain gate: arrival vectors
    * TRANSLATED +2 on every coordinate — a deterministic float
    * transform the oracle replicates exactly (x + 2 is exact in double
    * for any float x, so the round-to-float agrees across engines).
    * Translation, not scaling, on purpose: it saturates every arrival
    * coordinate far outside the build slice's trained range (the
    * monitor must fire) while preserving all distances WITHIN the
    * shifted population — so when the traffic shifts with the data,
    * the true neighbors of a shifted query are exactly the shifted
    * arrivals, and serving them off the stale training visibly
    * collapses recall (RecallBench's sq8_shifted_* rows). A scale-3×
    * drift also fires the monitor but moves the arrivals AWAY from any
    * query in L2, hiding the damage.
    */
  private[graft] def sq8DriftBase(s: SparkSession, d: String): DataFrame =
    corpus(s, d).select("vec_id", "embedding").withColumn("embedding",
      when(IncrArrival, expr(
        "transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 2.0 AS FLOAT))"))
        .otherwise(col("embedding")))

  /** The retrain-on-drift lifecycle gated end to end: build on the 9/10
    * slice, append the deliberately-shifted arrivals, read the clamp
    * monitor, and — because the shifted batch saturates far past the
    * threshold — RETRAIN on the corpus as modified and re-encode. The
    * monitor IS the gate: the oracle re-derives min/max over the FULL
    * modified corpus, so a silent monitor (serve off the stale
    * training) hash-fails rather than passing quietly.
    */
  def annSq8Retrain(s: SparkSession, d: String): DataFrame = {
    val dir = sq8LifecycleDir(d, "retrain")
    val base = sq8DriftBase(s, d)
    buildSq8IndexOn(s, base.filter(!IncrArrival), base.filter(!IncrArrival), dir)
    val clamp = appendSq8Index(s, base.filter(IncrArrival), dir, batchId = 0L)
    if (clamp > SQ8_CLAMP_RETRAIN) buildSq8IndexOn(s, base, base, dir)
    annSq8Indexed(s, d, dir)
  }

  /** Serve from the persisted index: read the stored min/max row and
    * code table, mask any tombstones (the store shares the tombstone
    * layout of the PQ family, so [[tombstonesOf]] works unchanged), and
    * run the standard probe — bit-identical to the self-contained form.
    */
  def annSq8Indexed(s: SparkSession, d: String, indexDir: String): DataFrame = {
    val mm = s.read.parquet(s"$indexDir/minmax")
    sq8Probe(s, d, mm, liveRows(s, indexDir,
      s.read.parquet(s"$indexDir/codes").select("vec_id", "codes")))
  }

  /** Driver-contract wrapper (staleness-fingerprinted build-once). */
  def annSq8IndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_sq8", buildSq8Index(s, d, _), annSq8Indexed(s, d, _))

  /** The incremental lifecycle gated: min/max trained on 9/10 of the
    * corpus, the arriving 1/10 encoded under the stored training and
    * batch-appended, standard serve. Oracle: dims over the build slice,
    * encode + probe over the full corpus — bit-exact, so a hash match
    * proves the append path re-derives nothing.
    */
  def annSq8Incr(s: SparkSession, d: String): DataFrame = {
    val dir = sq8LifecycleDir(d, "incr")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildSq8IndexOn(s, base.filter(!IncrArrival), base.filter(!IncrArrival), dir)
    appendSq8Index(s, base.filter(IncrArrival), dir, batchId = 0L): Unit
    annSq8Indexed(s, d, dir)
  }

  /** build → append → tombstone-delete → serve masked: the same
    * lifecycle contract as the PQ families ([[annIvfPqDeleted]]), against
    * built and appended partitions alike; the delete reuses the shared
    * tombstone store ([[deleteIvfPq]] writes ids, [[tombstonesOf]] reads
    * them back).
    */
  def annSq8Deleted(s: SparkSession, d: String): DataFrame = {
    val dir = sq8LifecycleDir(d, "del")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildSq8IndexOn(s, base.filter(!IncrArrival), base.filter(!IncrArrival), dir)
    appendSq8Index(s, base.filter(IncrArrival), dir, batchId = 0L): Unit
    deleteIvfPq(s, base.filter(DeleteVictims).select("vec_id"), dir, batchId = 1L)
    annSq8Indexed(s, d, dir)
  }

  /** IVF·SQ8 — the composition that actually fits this corpus (BENCH.md
    * r15): the trained coarse quantizer routes the query to its
    * L2-nearest cell (search space ~N/k, partition-prunable exactly like
    * IVF-PQ's code store), and WITHIN the cell candidates rank by the
    * near-exact SQ8 reconstruction — so the composed serve keeps the
    * kmeans family's 0.975 routing ceiling instead of burning it on
    * codebook noise the way IVF-PQ does here. Min/max is GLOBAL (raw,
    * not per-cell residual): the uniform quantizer's error is
    * range-driven and already sits far below the corpus's neighbor gaps,
    * so residualizing would buy precision nothing needs — and a global
    * row keeps the append path training-free. The oracle re-derives both
    * trainings (Lloyd + min/max), the assignment, the routing, and the
    * in-cell reconstruction ranking, all bit-exact.
    */
  def annIvfSq8(s: SparkSession, d: String, nProbe: Int = 1): DataFrame =
    rankByDistance(s, ivfSq8Sims(s, d, nProbe))

  /** The composed probe + exact re-rank: the in-cell SQ8 shortlist
    * (rank ≤ c) re-scored against the original vectors as point lookups
    * — recovers the routing ceiling exactly (the one neighbor the
    * quantization margin costs the plain composed probe comes back),
    * sharing [[refineExact]] with every other refined family.
    */
  def annIvfSq8Refined(s: SparkSession, d: String,
      c: Int = REFINE_C): DataFrame =
    refineExact(s, d, ivfSq8Sims(s, d), c)

  /** Route each (query_id, q_emb) to its single L2-nearest cell under
    * the given centroids — the (dist ASC, cell ASC) tie-break every
    * serve path and oracle shares; ONE copy so the tie-break can't
    * silently diverge across the composed families.
    */
  private def routeToCell(q: DataFrame, cents: DataFrame,
      nProbe: Int = 1): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("dist",
        graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("centroid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))))
      .filter(col("rk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"))

  private def ivfSq8Sims(s: SparkSession, d: String,
      nProbe: Int = 1): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = assignCells(s, base, cents).select("vec_id", "cell")
    val mm = graft.Checkpoint.barrier(sq8MinMaxRowOf(base))
    val codes = sq8CodesOfBase(base, mm).join(asg, Seq("vec_id"))
    val q = base.filter(col("vec_id") < N_QUERIES).toDF("query_id", "q_emb")
    val routed = routeToCell(q, cents, nProbe)
    // join to the routed cells FIRST (decode only in-cell candidates,
    // not the ~(k−1)/k the cell filter discards), then the fused
    // decode+distance kernel — bit-identical answer, codegen'd scan
    codes.join(broadcast(routed), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .crossJoin(broadcast(mm))
      .select(col("query_id"),
        (-graft.functions.GraftFunctions.sq8_adist(col("q_emb"),
          col("codes"), col("mns"), col("mxs"), SQ8_LEVELS)).as("sim"),
        col("vec_id"))
  }

  /** IVF·SQ8 with PER-CELL min/max training — the per-partition lever
    * the drift measurement motivates (BENCH.md §SQ8 distribution
    * drift): a GLOBAL uniform quantizer over a bimodal corpus spans
    * both populations and pays ~|range|/256 error everywhere, while
    * per-cell ranges stay tight around each population (the coarse
    * quantizer separates them — that is what it is for). Same
    * residual-style idea as per-cell PQ codebooks, at scalar-quantizer
    * cost: training is one (cell, dim)-keyed min/max aggregate.
    * Serve routes the query to its cell and ranks candidates through
    * the fused kernel under THAT cell's row.
    */
  def annIvfSq8Cell(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val q = base.filter(col("vec_id") < N_QUERIES).toDF("query_id", "q_emb")
    ivfSq8CellServeOver(s, base, q)
  }

  /** The per-cell-trained serve over explicit base/queries — shared by
    * the gate and RecallBench's drift rows (which feed the shifted
    * bimodal corpus + shifted traffic through it).
    */
  private[graft] def ivfSq8CellServeOver(s: SparkSession, base: DataFrame,
      q: DataFrame): DataFrame = {
    val cents = kmeansCentroidsOf(base)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
      .select("vec_id", "embedding", "cell")
    val mmCell = graft.Checkpoint.barrier(cellMinMaxOf(asg))
    ivfSq8CellProbe(s, cellCodesOf(asg, mmCell), mmCell,
      routeToCell(q, cents, 1))
  }

  /** Per-(cell, dim) min/max rows folded to one broadcastable
    * (cell, mns, mxs) row per cell — one keyed aggregate.
    */
  private def cellMinMaxOf(asg: DataFrame): DataFrame = asg
    .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
    .groupBy("cell", "i")
    .agg(min(col("x").cast("double")).as("mn"),
      max(col("x").cast("double")).as("mx"))
    .groupBy("cell")
    .agg(array_sort(collect_list(struct(col("i"), col("mn")))).as("a"),
      array_sort(collect_list(struct(col("i"), col("mx")))).as("b"))
    .selectExpr("cell", "transform(a, p -> p.mn) AS mns",
      "transform(b, p -> p.mx) AS mxs")

  /** Encode each assigned vector under ITS cell's min/max row. */
  private def cellCodesOf(asg: DataFrame, mmCell: DataFrame): DataFrame =
    asg.join(broadcast(mmCell), Seq("cell"))
      .withColumn("codes", expr(sq8CodeX("embedding", "mns", "mxs").spark))
      .select("vec_id", "cell", "codes")

  /** The routed per-cell ranking tail shared by the self-contained and
    * persisted forms.
    */
  private def ivfSq8CellProbe(s: SparkSession, codes: DataFrame,
      mmCell: DataFrame, routed: DataFrame): DataFrame = {
    val sims = codes.join(broadcast(routed), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(mmCell), Seq("cell"))
      .select(col("query_id"),
        (-graft.functions.GraftFunctions.sq8_adist(col("q_emb"),
          col("codes"), col("mns"), col("mxs"), SQ8_LEVELS)).as("sim"),
        col("vec_id"))
    rankByDistance(s, sims)
  }

  /** Persist the per-cell-trained store: centroids, the k-row cellmm
    * table, the code table partitioned by cell — the serve prunes to
    * the routed cells' partitions like every composed store here.
    */
  def buildIvfSq8CellIndex(s: SparkSession, d: String, indexDir: String): Unit =
    buildIvfSq8CellIndexOn(s, corpus(s, d).select("vec_id", "embedding"),
      indexDir)

  private[graft] def buildIvfSq8CellIndexOn(s: SparkSession, base: DataFrame,
      indexDir: String): Unit = {
    val cents = kmeansCentroidsOf(base)
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
      .select("vec_id", "embedding", "cell")
    val mmCell = graft.Checkpoint.barrier(cellMinMaxOf(asg))
    mmCell.write.mode("overwrite").parquet(s"$indexDir/cellmm")
    cellCodesOf(asg, mmCell).withColumn("batch", lit(-1L))
      .write.mode("overwrite").partitionBy("cell", "batch")
      .parquet(s"$indexDir/codes")
  }

  /** Append arrivals to the per-cell store: assign to the stored
    * centroids, encode each under ITS cell's stored row (no retraining
    * — the shared index contract), batch-keyed dynamic overwrite.
    * Returns the WORST per-cell clamp rate — the per-partition drift
    * monitor matching the per-partition training: a drifted population
    * lands in its own routed cells and saturates THEIR rows, which a
    * global average would dilute.
    */
  private[graft] def appendIvfSq8CellIndex(s: SparkSession, newRows: DataFrame,
      indexDir: String, batchId: Long): Double = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val mmCell = s.read.parquet(s"$indexDir/cellmm")
    val asg = graft.Checkpoint.barrier(assignCells(s, newRows, cents))
      .select("vec_id", "embedding", "cell")
    cellCodesOf(asg, mmCell).withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch").parquet(s"$indexDir/codes")
    val clamped = s"aggregate(transform(sequence(1, $DIM), i -> " +
      "CASE WHEN CAST(element_at(embedding, i) AS DOUBLE) < element_at(mns, i) " +
      "OR CAST(element_at(embedding, i) AS DOUBLE) > element_at(mxs, i) " +
      "THEN 1 ELSE 0 END), 0, (a, x) -> a + x)"
    val worst = asg.join(broadcast(mmCell), Seq("cell"))
      .selectExpr("cell", s"$clamped AS nc")
      .groupBy("cell")
      .agg((sum(col("nc")).cast("double") /
        (count(lit(1)).cast("double") * DIM)).as("rate"))
      .agg(coalesce(max("rate"), lit(0.0)).as("worst"))
      .head().getDouble(0)
    worst
  }

  /** The per-cell store's incremental lifecycle gated: per-cell rows
    * trained on the 9/10 slice, arrivals encoded under the STORED rows
    * and cell-appended, standard routed serve — the oracle re-derives
    * slice-trained per-cell min/max with the serving encode over the
    * full corpus, so a hash match proves the append re-trains nothing.
    */
  def annIvfSq8CellIncr(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "ivfsq8cell_incr")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildIvfSq8CellIndexOn(s, base.filter(!IncrArrival), dir)
    appendIvfSq8CellIndex(s, base.filter(IncrArrival), dir, batchId = 0L): Unit
    annIvfSq8CellIndexed(s, d, dir)
  }

  /** The persisted per-cell serve: route on stored centroids, prune the
    * code scan to the routed cells, rank under each cell's stored row —
    * bit-identical to the self-contained form, same oracle.
    */
  def annIvfSq8CellIndexed(s: SparkSession, d: String,
      indexDir: String): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val q = corpus(s, d).select("vec_id", "embedding")
      .filter(col("vec_id") < N_QUERIES).toDF("query_id", "q_emb")
    val routed = routeToCell(q, cents, 1)
    val cells = routed.select("cell").distinct().collect()
      .map(_.getAs[Number]("cell").intValue()).toSeq
    val codes = s.read.parquet(s"$indexDir/codes")
      .filter(col("cell").isin(cells: _*))
    val mmCell = s.read.parquet(s"$indexDir/cellmm")
      .filter(col("cell").isin(cells: _*))
    ivfSq8CellProbe(s, codes, mmCell, routed)
  }

  /** Driver-contract wrapper (build-once, atomic publish). */
  def annIvfSq8CellIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_ivfsq8cell", buildIvfSq8CellIndex(s, d, _),
      annIvfSq8CellIndexed(s, d, _))

  /** Persist the composed IVF·SQ8 index: coarse centroids (tiny), the
    * one-row min/max, and the code table `partitionBy(cell)` — the
    * routed probe's scan prunes to its cell's partitions exactly like
    * the IVF-PQ store, but what it reads per cell are the near-exact 4×
    * codes instead of codebook indexes.
    */
  def buildIvfSq8Index(s: SparkSession, d: String, indexDir: String): Unit = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val mm = graft.Checkpoint.barrier(sq8MinMaxRowOf(base))
    mm.write.mode("overwrite").parquet(s"$indexDir/minmax")
    val asg = assignCells(s, base, cents).select("vec_id", "cell")
    sq8CodesOfBase(base, mm).join(asg, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/codes")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$indexDir/_fingerprint"), datasetFingerprint(d))
  }

  /** The composed serve off the persisted store: route on the stored
    * centroids (broadcast), scan ONLY the routed cells' code partitions
    * (the collected cell-id set is O(queries) rows — the same
    * PartitionFilters device as the IVF-PQ serve), reconstruct and rank
    * in-cell. Bit-identical to [[annIvfSq8]] — same oracle.
    */
  def annIvfSq8Indexed(s: SparkSession, d: String,
      indexDir: String): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val mm = s.read.parquet(s"$indexDir/minmax")
    val q = corpus(s, d).filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val routed = graft.Checkpoint.barrier(routeToCell(q, cents))
    val probedCells = routed.select("cell").distinct().collect().map(_.getInt(0))
    val codes = s.read.parquet(s"$indexDir/codes")
      .filter(col("cell").isin(probedCells.toSeq: _*))
    val sims = codes.join(broadcast(routed), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .crossJoin(broadcast(mm))
      .select(col("query_id"),
        (-graft.functions.GraftFunctions.sq8_adist(col("q_emb"),
          col("codes"), col("mns"), col("mxs"), SQ8_LEVELS)).as("sim"),
        col("vec_id"))
    rankByDistance(s, sims)
  }

  /** Driver-contract wrapper (staleness-fingerprinted build-once). */
  def annIvfSq8IndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_ivfsq8", buildIvfSq8Index(s, d, _),
      annIvfSq8Indexed(s, d, _))

  private def sq8LifecycleDir(d: String, tag: String): String =
    graft.Scratch.processDir(d, s"sq8_$tag")

  // ------------------------------------------------ graph ANN (navigable per-cell graph)

  /** Graph ANN parameters: per-node out-degree R, beam width B, hop
    * count H. The visited set per query is bounded by construction at
    * 1 + H·B·R rows (193 at the gated settings) — every serve-side rank
    * window below is over that bound, never over a corpus-sized set.
    */
  private[graft] val GRAPH_R = 8
  private[graft] val GRAPH_B = 8
  private[graft] val GRAPH_H = 3

  /** Per-cell exact-kNN adjacency under an explicit (vec_id, embedding,
    * cell) assignment — the navigable graph of the graph-ANN family
    * (Malkov & Yashunin's HNSW and Subramanya et al.'s DiskANN serve
    * beam searches over exactly this kind of neighborhood graph; the
    * deterministic kNN neighbor rule here is what makes the structure
    * re-derivable by the DuckDB oracle, where HNSW's random level draws
    * would not be). Construction is blocked on the trained quantizer
    * cell — candidate pairs come from a cell equi-join, never all-pairs
    * across the corpus, the same bounded-block shape as the SSJoin
    * dedup family; cell populations are bounded by the quantizer's k,
    * which scales with the corpus. Edge selection is the bounded
    * [[graft.functions.TopKByScore]] aggregator (O(R) state per source,
    * partial+final merge), ties (sim DESC, dst ASC).
    */
  /** Adjacency degree at quantizer scale — the r19 2M finding: recall@5
    * at 500 cells reads 0.875 FLAT in probe width (p=8→64,
    * SCALE_VERIFY_r19), i.e. the missing truth pairs are greedy-unreachable in
    * the fixed-R per-cell kNN adjacency, not routed into wrong cells.
    * A kNN digraph's greedy-reachable fraction falls as the corpus
    * grows around a fixed degree (HNSW grows M with corpus size for
    * exactly this reason — Malkov & Yashunin 2018 §4.1); like the walk
    * knobs ([[cgraphSteps]]), R gains ONE edge per doubling of cells
    * beyond the gated K — O(log K) build/serve growth — and is 0 at
    * K ≤ 8, so every gated corpus builds at the pinned GRAPH_R and no
    * oracle changes.
    */
  /** COMPATIBILITY NOTE (r20 ADVICE): the stored adjacency does not
    * record which degree it was built at; maintenance re-derives it as
    * graphR(storedCells). A store staged by a pre-graphR writer (edges
    * at the pinned GRAPH_R with > 8 cells) must therefore be REBUILT
    * before maintenance — relinking it would mix degrees and fail the
    * rebuilt-twin exactness gates. Every gated store (8 cells) and
    * every store built since the graphR commit derives the same degree
    * on both paths.
    */
  private[graft] def graphR(cells: Long): Int = GRAPH_R + cgraphSteps(cells)

  /** The bounded top-k edge selection every adjacency build funnels
    * through: partial+final [[graft.functions.TopKByScore]] fold over
    * (src, sim, dst) — O(k) state per source, ties (sim DESC, dst ASC)
    * — output (src, dst).
    */
  private def topEdges(s: SparkSession, cand: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val agg = graft.functions.TopKByScore(k).toColumn
    cand.as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, sim, id) => (sim, id) }
      .agg(agg.name("top"))
      .toDF("src", "top")
      .select(col("src"), explode(col("top")).as("p"))
      .select(col("src"), col("p._2").as("dst"))
  }

  /** Stats-driven hash-vs-sort aggregation posture for the build kNN
    * tails (r19 verdict #8): Spark's ObjectHashAggregate falls back to
    * sort-based aggregation after 128 distinct groups per task, which
    * re-sorts the UN-aggregated candidate stream — ~24 B × N × |cell|
    * of local spill. Measured both ways at two scales (r19): when that
    * spill fits the box the sort path is the FASTER one (98.8 vs
    * 138.9 s at 200k), and when it doesn't the build dies in
    * UnsafeExternalSorter (300 GB at 2M). So the decision is the
    * estimated spill against a disk budget: keep Spark's default
    * (sort fallback) while the spill fits, raise the threshold so the
    * bounded O(R)-state TopK groups stay hashed when it would not.
    * On a 1000-executor cluster the spill divides by the fleet and the
    * default wins at any corpus — which is exactly what the estimate
    * derives there. `SPARK_GRAFT_AGG_FALLBACK_THRESHOLD` (the r19
    * single-box hatch) still overrides when set.
    */
  private val AggFallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Session-keyed memory of the conf value [[hashAggHeadroom]] replaced,
    * so [[restoreAggFallback]] can scope the override to the build that
    * asked for it (r20 ADVICE: the pin used to outlive the graph build
    * and strip the sort-spill safety net from every LATER aggregation in
    * the same long-lived session — e.g. the BM25 lifecycle stages of a
    * MaintainAtScale run, whose per-group state is NOT bounded O(R)).
    * `None` = the key was unset before the pin.
    */
  private val savedAggFallback =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Option[String]]()

  /** Restore the pre-[[hashAggHeadroom]] fallback threshold. Call after
    * the build's terminal action (the edge aggregation has run by then —
    * every caller either writes the edges or materializes them through a
    * checkpoint barrier). No-op when no pin is outstanding.
    */
  private def restoreAggFallback(s: SparkSession): Unit =
    Option(savedAggFallback.remove(s)).foreach {
      case Some(v) => s.conf.set(AggFallbackKey, v)
      case None => s.conf.unset(AggFallbackKey)
    }

  /** Target cell membership of the adaptive quantizer (K = N / this) —
    * shared by [[adaptiveK]] and the spill estimate below so the two
    * can never drift.
    */
  private val CellMembership = 4000L

  private def hashAggHeadroom(s: SparkSession, cells: Long,
      universeCells: Long = 1L): Unit =
    if (!sys.env.contains("SPARK_GRAFT_AGG_FALLBACK_THRESHOLD")) {
      val spillBudget = sys.env.getOrElse("SPARK_GRAFT_SORT_SPILL_BUDGET",
        (64L << 30).toString).toLong
      // candidate rows ≈ srcs (cells × membership) × target cell
      // membership × candidate universe width (1 for the own-cell
      // adjacency, 1 + the layer degree for xcell); 24 B per
      // (src, sim, dst) row of pre-aggregation sort spill
      val estSpill =
        cells * CellMembership * CellMembership * universeCells * 24L
      if (estSpill > spillBudget) {
        // a partial-aggregation task's distinct groups are NOT
        // srcs/parts — candidate rows arrive partitioned by the JOIN
        // key (cell), so one task holds every src with a candidate in
        // its cells (measured the hard way: a derived per-task
        // threshold of srcs/parts×2 still fell back at 2M/xcell and
        // sorted 2×10⁸ rows/task to disk-full). The states are bounded
        // O(R) per src by construction — worst-case ALL of them hashed
        // is ~GBs against a 28 g heap — so when the sort spill cannot
        // fit, the correct setting is "never fall back" FOR THIS BUILD
        // (saved here, restored by [[restoreAggFallback]])
        val cur = s.conf.getOption(AggFallbackKey)
        if (cur.forall(_.toLong < Int.MaxValue)) {
          savedAggFallback.putIfAbsent(s, cur)
          s.conf.set(AggFallbackKey, Int.MaxValue.toString)
        }
      }
    }

  private[graft] def graphEdgesOf(s: SparkSession, asg: DataFrame,
      cells: Long = KMEANS_K): DataFrame = {
    val r = graphR(cells)
    hashAggHeadroom(s, cells)
    // exact cosine over the in-cell pairs at every scale (an SQ8-guided
    // build measured 1.31× slower, SCALE_VERIFY_r20). Each unordered
    // pair is scored ONCE (src < dst) and mirrored — cosine(a,b) ≡
    // cosine(b,a) bit-exactly (the kernel's dot walks the same index
    // order and IEEE-754 multiplication commutes), so the adjacency is
    // identical to the both-directions scan at half the kernel
    // evaluations
    val a = asg.select(col("cell").as("a_cell"), col("vec_id").as("src"),
      col("embedding").as("s_emb"))
    val b = asg.select(col("cell").as("b_cell"), col("vec_id").as("dst"),
      col("embedding").as("d_emb"))
    val half = a.join(b, col("a_cell") === col("b_cell") &&
        col("src") < col("dst"))
      .select(col("src"),
        graft.functions.GraftFunctions.cosine_sim(col("s_emb"), col("d_emb"))
          .as("sim"),
        col("dst"))
    // both directions from ONE kernel evaluation: the pair row is
    // exploded in-pipeline (a union of two projections over the join
    // would re-execute the join + kernel subtree per branch — Spark
    // reuses exchanges, not arbitrary identical subtrees)
    val cand = half.select(explode(array(
        struct(col("src"), col("sim"), col("dst")),
        struct(col("dst").as("src"), col("sim"), col("src").as("dst"))))
      .as("e"))
      .select(col("e.src").as("src"), col("e.sim").as("sim"),
        col("e.dst").as("dst"))
    val edges = topEdges(s, cand, r)
    edges.join(asg.select(col("vec_id").as("src"), col("cell")), Seq("src"))
  }

  /** One entry point per cell: the vector nearest its cell's centroid
    * (most central = best-connected beam seed), ties to the smaller
    * vec_id — a partial+final MIN-struct aggregate over the assignment's
    * already-computed distances, O(1) state per cell.
    */
  private[graft] def graphEntriesOf(asg: DataFrame): DataFrame = asg
    .groupBy("cell")
    .agg(min(struct(col("dist"), col("vec_id"))).as("m"))
    .select(col("cell"), col("m.vec_id").as("vec_id"))

  /** Greedy beam search over the navigable graph — the serve shape that
    * undercuts the refine family's fixed c-deep shortlist: per hop, the
    * current best-B visited nodes expand their R out-edges, fresh
    * arrivals are scored exactly, and after H hops the answer is the
    * top-k of everything seen. Per-hop work is one equi-join of the
    * O(queries·B) beam against the edge store and one point-lookup join
    * for the fresh candidates' vectors — never a corpus scan; the
    * visited set is bounded at 1 + H·B·R per query, so the beam-rank
    * windows are over a constant-bounded set. Each hop's union goes
    * through a checkpoint barrier: `visited` is referenced twice per
    * hop (beam + anti-join), so unbarriered lineage would nest
    * exponentially in H (the label-propagation precedent).
    */
  private def graphBeamServe(s: SparkSession, routed: DataFrame,
      vecs: DataFrame, edges: DataFrame, entries: DataFrame,
      b: Int = GRAPH_B, h: Int = GRAPH_H): DataFrame =
    rankViaTopK(s, graphBeamVisited(s, routed, vecs, edges, entries, b, h)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("sim"), col("vec_id")))

  /** The H-hop walk itself, returning the scored visited set —
    * (query_id, vec_id, sim), bounded at 1 + H·B·R rows per query.
    */
  private def graphBeamVisited(s: SparkSession, routed: DataFrame,
      vecs: DataFrame, edges: DataFrame, entries: DataFrame,
      b: Int = GRAPH_B, h: Int = GRAPH_H): DataFrame = {
    // routed may carry one row per PROBED cell (the centroid-layer
    // route below); the scorer wants one q_emb per query. Materialized
    // (r21): it is broadcast once per hop, and `routed` can hang off the
    // whole centroid-graph routing subtree — unbarriered, that routing
    // re-ran on every hop's broadcast build (measured ~1.4 s/hop on the
    // routed/xcell serves). O(queries) rows.
    val q = graft.Checkpoint.barrier(
      routed.select("query_id", "q_emb").dropDuplicates("query_id"))
    // materialize the (src, dst) projection ONCE (r21): every hop joins
    // the beam against `edges`, and each hop's plan is cut from the
    // previous one by the per-hop barrier — so an UN-materialized edge
    // relation re-executes its whole derivation subtree once per hop
    // (measured on q_ann_graph_xcell: the ~2.4 s cross-cell adjacency
    // build ran 3×, two of them pure waste). Self-contained serves pay
    // the adjacency once; indexed serves trade h parquet scans for one
    // checkpointed read. 16 B/row × N·R rows — the same order as the
    // shuffle each hop's join would otherwise redo.
    val e = graft.Checkpoint.barrier(
      edges.select(col("src").as("vec_id"), col("dst")))
    // the edge aggregation has run (barrier above): un-pin the agg
    // fallback threshold a derived-edge caller's hashAggHeadroom set
    restoreAggFallback(s)
    def withSims(ids: DataFrame): DataFrame =
      ids.join(vecs.select("vec_id", "embedding"), Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.GraftFunctions.cosine_sim(col("q_emb"), col("embedding"))
            .as("sim"))
    var visited = graft.Checkpoint.barrier(withSims(
      routed.join(entries, Seq("cell")).select("query_id", "vec_id")))
    for (_ <- 1 to h) {
      val beam = visited
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))))
        .filter(col("rk") <= b)
        .select("query_id", "vec_id")
      val frontier = beam
        .join(e, Seq("vec_id"))
        .select(col("query_id"), col("dst").as("vec_id"))
        .distinct()
      val fresh = frontier.join(visited.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), "left_anti")
      // rotate: the new hop's checkpoint is computed FROM the old hop's
      // blocks, after which they are dead — without the release a serve
      // leaves h superseded frontier copies in the block manager
      visited = graft.Checkpoint.barrierReplacing(
        visited.unionByName(withSims(fresh)), visited)
    }
    // q and e fed the hops only; the returned frame is the final
    // checkpointed visited set and no longer references them
    graft.Checkpoint.release(q)
    graft.Checkpoint.release(e)
    visited
  }

  /** Self-contained graph ANN: train the quantizer, build the per-cell
    * kNN graph, route each demo query to its own cell (the nProbe=1 L2
    * route — identical tie-breaks to the assignment), beam-search from
    * the cell's entry point. Deterministic end to end, so the oracle
    * re-derives graph construction AND the unrolled H-hop walk.
    */
  def annGraph(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    val routed = asg.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell"))
    graphBeamServe(s, routed, asg, graphEdgesOf(s, asg), graphEntriesOf(asg))
  }

  /** The visited id-set of the gated beam search — the cost side of the
    * recall/cost frontier: |visited| per query IS the number of exact
    * vector reads the serve paid (entry + every fresh frontier arrival).
    * RecallBench reports its mean beside the recall row.
    */
  /** The (B, H) frontier point for RecallBench: the gated graph served
    * at an explicit beam width and hop count, returning (ranked answer,
    * visited id-set) so recall AND reads/query come from the same walk.
    * The adjacency (R) is the stored structure and does not vary at
    * serve time — exactly as deployed.
    */
  private[graft] def graphFrontierPoint(s: SparkSession, d: String,
      b: Int, h: Int): (DataFrame, DataFrame) = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    val routed = asg.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell"))
    val visited = graphBeamVisited(s, routed, asg, graphEdgesOf(s, asg),
      graphEntriesOf(asg), b, h)
    (rankViaTopK(s, visited.filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("sim"), col("vec_id"))),
      visited.select("query_id", "vec_id"))
  }

  // ---------------------------------- centroid navigable layer (routing)

  /** Centroid-layer routing parameters: centroid out-degree RC, descent
    * beam BC, descent hops HC, probed cells PC. Per query the descent
    * scores at most 1 + HC·BC·deg centroids (deg = RC plus the kNN
    * in-degree the symmetrization adds) — O(deg·BC·HC), NOT O(cells).
    * At this repo's 8 cells that is a wash; the design point is the
    * 100 TB deployment where cells ≈ √N ≈ 10⁵–10⁶ and the flat
    * route's per-query scan of EVERY centroid is itself the serving
    * bottleneck (HNSW's upper layers exist for exactly this reason —
    * Malkov & Yashunin 2018 §4: greedy descent over a sparse graph of
    * representatives reaches the near-optimal entry region in
    * logarithmically many hops).
    */
  private[graft] val CGRAPH_R = 3
  private[graft] val CGRAPH_B = 2
  private[graft] val CGRAPH_H = 3
  private[graft] val CGRAPH_P = 2

  /** Serve-knob scaling for the layered walks — the r19 finding: the
    * centroid-layer descent's (P, B, H) were tuned at the gated
    * KMEANS_K = 8 cells, and at `adaptiveK` scale they stall — at 50
    * cells (200k vectors) the fixed knobs route 25% of truth pairs
    * into unprobed cells (recall@5 0.75 on the routed AND xcell serves
    * while the own-cell walk holds 1.0 — the routing is what misses,
    * not the in-cell walk; RecallAtScale, SCALE_VERIFY_r19.md). The
    * layer's diameter and its local-minimum depth both grow ~log in
    * the cell count, so every knob gains ONE step per doubling of
    * cells beyond the gated K: probes, beam and hops all stay
    * O(log K) per query — the HNSW economics — and at K ≤ 8 the steps
    * are 0, so every gated corpus serves with the pinned constants and
    * no oracle changes.
    */
  private[graft] def cgraphSteps(cells: Long): Int =
    if (cells <= KMEANS_K) 0
    else math.ceil(math.log(cells.toDouble / KMEANS_K) / math.log(2.0)).toInt

  /** The navigable layer itself: each centroid's RC nearest centroids
    * by L2 (ties dist ASC, dst cell ASC), SYMMETRIZED — every kNN edge
    * is inserted in both directions, the NSW/HNSW link discipline
    * (Malkov & Yashunin 2018: bidirectional connections are what make
    * greedy search on a kNN-derived graph reach the query region; a
    * one-way kNN digraph strands descent in sink clusters — observed
    * directly on this repo's toy layer). Out-degree is RC plus the
    * cell's kNN in-degree (bounded in practice by the same hubness the
    * kNN structure has). Built once per index, O(cells²) pairs — with
    * cells ≈ √N that is O(N), the cost of one corpus scan, and it is a
    * BUILD cost, never a serve cost. Tiny output (≤ 2·cells·RC rows):
    * broadcast at serve time.
    */
  private[graft] def centroidEdgesOf(cents: DataFrame): DataFrame = {
    val a = cents.select(col("cell").as("src"), col("centroid").as("s_c"))
    val b = cents.select(col("cell").as("dst"), col("centroid").as("d_c"))
    val knn = a.join(b, col("src") =!= col("dst"))
      .withColumn("dist",
        graft.functions.GraftFunctions.l2_sq(col("s_c"), col("d_c")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("src").orderBy(asc("dist"), asc("dst"))))
      .filter(col("rk") <= CGRAPH_R)
      .select("src", "dst")
    knn.unionByName(knn.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Global entry cell for the descent: the most populous cell (ties to
    * the smaller cell id) — exact-integer counts, so the choice is
    * deterministic and oracle-re-derivable where a float mean-of-means
    * would be fold-order-sensitive. One row.
    */
  private[graft] def entryCellOf(asg: DataFrame): DataFrame = asg
    .groupBy("cell").agg(count(lit(1)).as("n"))
    .orderBy(desc("n"), asc("cell")).limit(1)
    .select("cell")

  /** Multi-entry descent seeds (the residual-confirmation knob): entry
    * #1 is the population pick ([[entryCellOf]]); entries 2..E are
    * greedy farthest-point picks over the centroid table — max-min L2
    * to the already-picked set, ties to the smaller cell id, so the
    * seed set is deterministic and maximally spread. Restarting greedy
    * descent from well-separated entries is the standard answer to
    * local minima; this knob exists to MEASURE whether the 0.975
    * routed-recall ceiling is a walk artifact or corpus truth
    * (the r18 diagnosis, BENCH.md: the missing truth pair is
    * greedy-unreachable from ANY entry — RecallBench's
    * `graph_routed_e*` rows price the confirmation). Driver-side
    * O(cells·E) over the collected centroid list — the same O(cells)
    * budget the serve's centroid broadcast already spends.
    */
  private[graft] def entryCellsOf(asg: DataFrame, cents: DataFrame,
      e: Int): DataFrame = {
    if (e <= 1) return entryCellOf(asg)
    val s = asg.sparkSession
    import s.implicits._
    val firstRows = entryCellOf(asg).collect()
    if (firstRows.isEmpty) return Seq.empty[Int].toDF("cell")
    val first = firstRows.head.getAs[Number]("cell").intValue()
    val cs = cents.select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val byCell = cs.toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    // farthest-point with the min-distance-to-picked-set tracked
    // incrementally (one update pass per new seed): O(cells·E) total,
    // same picks/tie-order as the rescan form (max dist, ties to the
    // smaller cell id — the comparator is order-independent)
    val minDist = scala.collection.mutable.HashMap[Int, Double]()
    cs.foreach { case (cell, v) =>
      if (cell != first) minDist(cell) = l2(byCell(first), v)
    }
    var picked = Vector(first)
    while (picked.size < math.min(e, cs.length)) {
      val next = minDist.iterator.reduceLeft((x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
      picked = picked :+ next._1
      minDist.remove(next._1): Unit
      val nv = byCell(next._1)
      // value updates during HashMap iteration are unspecified for
      // Scala mutable maps: iterate a key snapshot (O(cells), same
      // budget) so the in-place relaxation is contract-safe
      minDist.keys.toArray.foreach { c =>
        val nd = l2(nv, byCell(c)); if (nd < minDist(c)) minDist(c) = nd
      }
    }
    picked.toDF("cell")
  }

  /** Greedy descent over the centroid layer: start every query at the
    * global entry cell, expand the best-BC visited cells' RC out-edges
    * for HC hops (fresh arrivals scored by exact L2 to the query), and
    * return each query's PC best visited cells as its probe set. The
    * hop loop is the same barriered frontier-join shape as the vector
    * walk — cells are rows, never a driver structure. Output:
    * (query_id, cell), PC rows per query.
    */
  private[graft] def routeViaCentroidGraph(s: SparkSession, q: DataFrame,
      cents: DataFrame, entry: DataFrame, cedges: DataFrame,
      p: Int = CGRAPH_P, b: Int = CGRAPH_B,
      h: Int = CGRAPH_H): DataFrame = {
    routeVisitedCells(s, q, cents, entry, cedges, b, h)
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))))
      .filter(col("rk") <= p)
      .select("query_id", "cell")
  }

  /** The descent's scored visited-cell set — (query_id, cell, dist),
    * bounded at 1 + HC·BC·deg rows per query. Split out so RecallBench
    * can price routing centroid evaluations beside vector reads.
    */
  private[graft] def routeVisitedCells(s: SparkSession, q: DataFrame,
      cents: DataFrame, entry: DataFrame, cedges: DataFrame,
      b: Int = CGRAPH_B, h: Int = CGRAPH_H): DataFrame = {
    def scored(cellsDf: DataFrame): DataFrame = cellsDf
      .join(broadcast(cents), Seq("cell"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cell"),
        graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("centroid"))
          .as("dist"))
    var visited = graft.Checkpoint.barrier(scored(
      q.select("query_id").crossJoin(broadcast(entry))))
    for (_ <- 1 to h) {
      val beam = visited
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))))
        .filter(col("rk") <= b)
        .select("query_id", "cell")
      val frontier = beam
        .join(broadcast(cedges.select(col("src").as("cell"), col("dst"))),
          Seq("cell"))
        .select(col("query_id"), col("dst").as("cell"))
        .distinct()
      val fresh = frontier.join(visited.select("query_id", "cell"),
        Seq("query_id", "cell"), "left_anti")
      // rotate superseded descent rounds (see graphBeamVisited)
      visited = graft.Checkpoint.barrierReplacing(
        visited.unionByName(scored(fresh)), visited)
    }
    visited
  }

  /** Graph ANN with centroid-layer routing (q_ann_graph_routed): the
    * flat per-query scan of every centroid is replaced by the greedy
    * descent, and each query walks from its PC probed cells' entry
    * points — the boundary-straddle repair (a query near a cell seam
    * gets its neighbor cell probed) at O(RC·HC) centroid evaluations
    * instead of O(cells·P). Vector-side walk, adjacency, and tie-breaks
    * are byte-identical to [[annGraph]]; the oracle re-derives the
    * descent unrolled.
    */
  def annGraphRouted(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    val q = asg.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = routeViaCentroidGraph(s, q, cents, entryCellOf(asg),
      centroidEdgesOf(cents))
    val routed = probes.join(q, Seq("query_id"))
    graphBeamServe(s, routed, asg, graphEdgesOf(s, asg), graphEntriesOf(asg))
  }

  /** Cross-cell adjacency (q_ann_graph_xcell): each vector's R nearest
    * neighbors selected from its OWN cell plus all centroid-ADJACENT
    * cells (the navigable layer's links double as the candidate-block
    * relation) — the boundary repair no probed-cell serve can make: a
    * true neighbor whose cell ranks beyond every probe is reachable
    * here because the WALK follows vector proximity, not cell ranking
    * (measured: the brute truth pair that holds every IVF serve at the
    * 0.975 routing ceiling — nProbe 1–4 all miss it — is recovered,
    * see RecallBench graph_xcell). Candidate pairs stay blocked:
    * O(|cell|²·(1+deg)) per cell, never corpus all-pairs; same bounded
    * TopKByScore selection and (sim DESC, dst ASC) ties as the
    * per-cell adjacency.
    */
  /** Forward (pre-symmetrization) xcell kNN: every source in `srcAsg`
    * links to its top-R among `candAsg` members of the source's own +
    * centroid-adjacent cells. Factored out of [[graphEdgesXcellOf]] so
    * the maintenance paths can recompute JUST the affected sources'
    * forward lists and merge them with the stored forward set before
    * symmetrizing: the reverse of a forward edge lands in the
    * DESTINATION's partition, so a symmetrized store cannot be patched
    * per-source without the forward rows (the r17 one-seam-short flaw).
    */
  private[graft] def forwardKnnXcellOf(s: SparkSession, srcAsg: DataFrame,
      candAsg: DataFrame, cedges: DataFrame,
      nCells: Long = KMEANS_K, mirror: Boolean = false): DataFrame = {
    val r = graphR(nCells)
    hashAggHeadroom(s, nCells, universeCells = 1L + 2L * CGRAPH_R)
    val cells = cedges.select(col("src")).distinct()
    val cpair = cedges.select(col("src").as("a_cell"), col("dst").as("b_cell"))
      .unionByName(cells.select(col("src").as("a_cell"), col("src").as("b_cell")))
      .distinct()
    val a = srcAsg.select(col("cell").as("a_cell"), col("vec_id").as("src"),
      col("embedding").as("s_emb"))
    // exact cosine over the own-plus-adjacent-cell candidate universe.
    // `mirror` (build sites only, where srcAsg IS candAsg and the cell
    // relation is symmetric+reflexive) scores each unordered pair once
    // and explodes both directions from the one kernel evaluation —
    // invalid on the maintenance paths, where srcAsg is a strict
    // subset of candAsg and pair (cand, src) must NOT be emitted
    val b = candAsg.select(col("cell").as("b_cell"), col("vec_id").as("dst"),
      col("embedding").as("d_emb"))
    val joined = a.join(broadcast(cpair), Seq("a_cell")).join(b, Seq("b_cell"))
    val cand =
      if (mirror) {
        val half = joined.filter(col("src") < col("dst"))
          .select(col("src"),
            graft.functions.GraftFunctions.cosine_sim(col("s_emb"),
              col("d_emb")).as("sim"),
            col("dst"))
        half.select(explode(array(
            struct(col("src"), col("sim"), col("dst")),
            struct(col("dst").as("src"), col("sim"),
              col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.sim").as("sim"),
            col("e.dst").as("dst"))
      } else joined.filter(col("src") =!= col("dst"))
        .select(col("src"),
          graft.functions.GraftFunctions.cosine_sim(col("s_emb"),
            col("d_emb")).as("sim"),
          col("dst"))
    topEdges(s, cand, r)
  }

  private[graft] def symmetrized(knn: DataFrame): DataFrame =
    knn.unionByName(knn.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  private[graft] def graphEdgesXcellOf(s: SparkSession, asg: DataFrame,
      cedges: DataFrame, nCells: Long = KMEANS_K): DataFrame =
    // SYMMETRIZED, like the centroid layer (NSW bidirectional links):
    // a vector nobody selects into their top-R is an ORPHAN of the kNN
    // digraph — unreachable by any walk at any (B, H); measured
    // directly: the 0.975-ceiling truth pair stayed invisible to a
    // B=16, H=6 walk until the reverse links existed. The reversed
    // edge rides the same blocked candidate universe.
    symmetrized(forwardKnnXcellOf(s, asg, asg, cedges, nCells,
      mirror = true))

  /** The full HNSW-analog composition: centroid-layer routing picks the
    * entry cells AND the adjacency crosses cell seams — layer-0 edges
    * from own-plus-adjacent-cell candidate blocks, upper-layer greedy
    * routing. Same walk, same tie-breaks; the oracle swaps only the
    * edge-universe CTE.
    */
  def annGraphXcell(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    val cedges = centroidEdgesOf(cents)
    val q = asg.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = routeViaCentroidGraph(s, q, cents, entryCellOf(asg), cedges)
    val routed = probes.join(q, Seq("query_id"))
    graphBeamServe(s, routed, asg, graphEdgesXcellOf(s, asg, cedges),
      graphEntriesOf(asg))
  }

  /** Frontier point for the XCELL serve — (ranked, visited vector ids)
    * so RecallBench prices the boundary-edge walk's reads too.
    */
  private[graft] def graphXcellFrontierPoint(s: SparkSession, d: String,
      p: Int, b: Int, h: Int): (DataFrame, DataFrame) = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    val cedges = centroidEdgesOf(cents)
    val q = asg.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = routeViaCentroidGraph(s, q, cents, entryCellOf(asg),
      cedges, p = p)
    val routed = probes.join(q, Seq("query_id"))
    val visited = graphBeamVisited(s, routed, asg,
      graphEdgesXcellOf(s, asg, cedges), graphEntriesOf(asg), b, h)
    (rankViaTopK(s, visited.filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("sim"), col("vec_id"))),
      visited.select("query_id", "vec_id"))
  }

  /** Frontier point for the ROUTED serve: (ranked answer, visited
    * vector ids, visited routing cells) from one walk, so RecallBench
    * reports recall, exact vector reads, AND centroid evaluations for
    * the same (P, B, H) setting.
    */
  private[graft] def graphRoutedFrontierPoint(s: SparkSession, d: String,
      p: Int, b: Int, h: Int, e: Int = 1): (DataFrame, DataFrame, DataFrame) = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    val q = asg.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val routeSet = routeVisitedCells(s, q, cents, entryCellsOf(asg, cents, e),
      centroidEdgesOf(cents))
    val probes = routeSet
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))))
      .filter(col("rk") <= p)
      .select("query_id", "cell")
    val routed = probes.join(q, Seq("query_id"))
    val visited = graphBeamVisited(s, routed, asg, graphEdgesOf(s, asg),
      graphEntriesOf(asg), b, h)
    (rankViaTopK(s, visited.filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("sim"), col("vec_id"))),
      visited.select("query_id", "vec_id"),
      routeSet.select("query_id", "cell"))
  }

  /** The DiskANN composition proper (Subramanya et al. 2019): the beam
    * walk is GUIDED by compressed distances — candidates score through
    * the fused SQ8 kernel off the 4× codes, so the traversal never
    * touches a full-precision vector — and only the final visited set
    * is re-ranked exactly (≤ 1+H·B·R point lookups). This is how a
    * disk-resident deployment actually serves: codes live in memory
    * beside the adjacency, raw vectors stay on disk and are read once
    * per ANSWER CANDIDATE, not once per traversal step. Deterministic
    * end to end (SQ8 distances are exact arithmetic on the codes), so
    * the oracle unrolls the same compressed-guided walk and the exact
    * re-rank bit-for-bit.
    */
  def annGraphSq8(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    val mm = graft.Checkpoint.barrier(sq8MinMaxRowOf(base))
    val codes = graft.Checkpoint.barrier(sq8CodesOfBase(base, mm))
    val routed = asg.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell"))
    val edges = graphEdgesOf(s, asg)
    val entries = graphEntriesOf(asg)
    val q = routed.select("query_id", "q_emb")
    // the compressed-domain scorer the WALK uses: −adist off the codes
    def withCodeSims(ids: DataFrame): DataFrame =
      ids.join(codes, Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .crossJoin(broadcast(mm))
        .select(col("query_id"), col("vec_id"),
          (-graft.functions.GraftFunctions.sq8_adist(col("q_emb"),
            col("codes"), col("mns"), col("mxs"), SQ8_LEVELS)).as("sim"))
    // same per-hop edge-materialization discipline as [[graphBeamVisited]]
    val e = graft.Checkpoint.barrier(
      edges.select(col("src").as("vec_id"), col("dst")))
    restoreAggFallback(s)
    var visited = graft.Checkpoint.barrier(withCodeSims(
      routed.join(entries, Seq("cell")).select("query_id", "vec_id")))
    for (_ <- 1 to GRAPH_H) {
      val beam = visited
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))))
        .filter(col("rk") <= GRAPH_B)
        .select("query_id", "vec_id")
      val frontier = beam
        .join(e, Seq("vec_id"))
        .select(col("query_id"), col("dst").as("vec_id"))
        .distinct()
      val fresh = frontier.join(visited.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), "left_anti")
      // rotate superseded hops (see graphBeamVisited)
      visited = graft.Checkpoint.barrierReplacing(
        visited.unionByName(withCodeSims(fresh)), visited)
    }
    // the compressed-domain walk is done: the codes/minmax/edge barriers
    // fed the hops only — the exact re-rank below reads raw vectors
    graft.Checkpoint.release(e)
    graft.Checkpoint.release(codes)
    graft.Checkpoint.release(mm)
    // the exact re-rank: the visited ids' RAW vectors as point lookups,
    // ranked by exact cosine — the only full-precision reads of the serve
    val exact = visited.select("query_id", "vec_id")
      .filter(col("query_id") =!= col("vec_id"))
      .join(base, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"),
        graft.functions.GraftFunctions.cosine_sim(col("q_emb"), col("embedding"))
          .as("sim"),
        col("vec_id"))
    rankViaTopK(s, exact)
  }

  /** The trained adjacency itself — (src, dst, cell) — for structural
    * assertions (degree bound, within-cell closure) and the bench's
    * reads-per-query accounting.
    */
  private[graft] def graphEdges(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val asg = graft.Checkpoint.barrier(
      assignCells(s, base, kmeansCentroids(s, d)))
    graphEdgesOf(s, asg)
  }

  private[graft] def graphVisited(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d).select("vec_id", "embedding")
    val cents = kmeansCentroids(s, d)
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    val routed = asg.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell"))
    graphBeamVisited(s, routed, asg, graphEdgesOf(s, asg), graphEntriesOf(asg))
      .select("query_id", "vec_id")
  }

  /** Persist the graph index: trained centroids (tiny), the assigned
    * vectors and the adjacency both PARTITIONED BY CELL — a beam search
    * touches only its routed cell's partition, so the serve prunes at
    * the scan (PartitionFilters), the same layout contract as the
    * IVF-SQ8 store — plus the one-row-per-cell entry-point table.
    */
  def buildGraphIndex(s: SparkSession, d: String, indexDir: String): Unit =
    buildGraphIndexOn(s, corpus(s, d).select("vec_id", "embedding"), indexDir,
      knownN = cachedCount(d, "full", corpus(s, d)))

  private[graft] def buildGraphIndexOn(s: SparkSession, base: DataFrame,
      indexDir: String, knownN: Long = -1L): Unit = {
    val k = adaptiveK(base, knownN)
    buildGraphIndexUnder(s, base, kmeansCentroidsOf(base, k), indexDir, k)
  }

  /** The store derivation under GIVEN centroids — split out so the
    * maintenance probes can derive the fresh-build twin of a maintained
    * store (same slice-trained centroids, full post-mutation corpus)
    * and compare the two stores table-for-table.
    */
  private[graft] def buildGraphIndexUnder(s: SparkSession, base: DataFrame,
      cents: DataFrame, indexDir: String, nCells: Long = KMEANS_K): Unit = {
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    // vectors carry a second `batch` partition level (-1 = the build),
    // the shared append convention: arrival batches land in their own
    // (cell, batch) partitions a replay dynamically overwrites
    asg.select("vec_id", "embedding", "cell")
      .withColumn("batch", lit(-1L))
      .write.mode("overwrite").partitionBy("cell", "batch")
      .parquet(s"$indexDir/vectors")
    graphEdgesOf(s, asg, nCells).select("src", "dst", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/edges")
    restoreAggFallback(s)
    graphEntriesOf(asg)
      .write.mode("overwrite").parquet(s"$indexDir/entries")
  }

  /** The stored quantizer's cell count — the scaling laws' input on
    * every maintenance path (the store, not the mutation, owns the K).
    * One tiny-parquet count.
    */
  private def storedCells(s: SparkSession, indexDir: String): Long =
    s.read.parquet(s"$indexDir/centroids").count()

  /** INCREMENTAL graph maintenance — the property that keeps the oracle
    * (and the mental model) simple: appending a batch re-derives the
    * adjacency of ONLY the touched cells, over their full post-append
    * membership. Untouched cells' subgraphs are already identical to a
    * fresh build's (their membership didn't change), so the post-append
    * store state EQUALS a full rebuild of the corpus-as-of-now under the
    * build-time centroids — no stale half-linked arrivals, no
    * reachability holes (a pure out-edge append would make arrivals
    * invisible to the walk: nothing points AT them) — while the write
    * cost is O(touched cells' membership), not O(corpus). Entries of
    * touched cells are refreshed the same way.
    */
  private[graft] def appendGraphIndex(s: SparkSession, newRows: DataFrame,
      indexDir: String, batchId: Long): Unit = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val asg = graft.Checkpoint.barrier(assignCells(s, newRows, cents))
    asg.select("vec_id", "embedding", "cell")
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch").parquet(s"$indexDir/vectors")
    val touched = asg.select("cell").distinct().collect()
      .map(_.getAs[Number]("cell").intValue()).toSeq
    val members = graft.Checkpoint.barrier(
      s.read.parquet(s"$indexDir/vectors")
        .filter(col("cell").isin(touched: _*))
        .select("vec_id", "embedding", "cell")
        .join(broadcast(cents), Seq("cell"))
        .withColumn("dist",
          graft.functions.GraftFunctions.l2_sq(col("embedding"), col("centroid")))
        .select("vec_id", "embedding", "cell", "dist"))
    graphEdgesOf(s, members, storedCells(s, indexDir))
      .select("src", "dst", "cell")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$indexDir/edges")
    restoreAggFallback(s)
    val entries = graft.Checkpoint.barrier(
      s.read.parquet(s"$indexDir/entries")
        .filter(!col("cell").isin(touched: _*))
        .unionByName(graphEntriesOf(members)))
    entries.write.mode("overwrite").parquet(s"$indexDir/entries")
  }

  /** Tombstone DELETE for the graph store: ids via the shared tombstone
    * device ([[deleteIvfPq]] writes, [[tombstonesOf]] reads), plus an
    * O(touched cells) ENTRY refresh — a dead entry point would orphan
    * its cell's walk, and recomputing the centroid-nearest survivor
    * costs only the victims' cells' partitions. Adjacency is left
    * in place and MASKED at serve (either-endpoint anti-join):
    * holes where dead neighbors sat, the standard transitional state
    * until [[compactGraphIndex]] re-links.
    */
  private[graft] def deleteGraphIndex(s: SparkSession, ids: DataFrame,
      indexDir: String, batchId: Long): Unit = {
    deleteIvfPq(s, ids, indexDir, batchId)
    val t = tombstonesOf(s, indexDir).get
    val cents = s.read.parquet(s"$indexDir/centroids")
    val touched = s.read.parquet(s"$indexDir/vectors")
      .join(broadcast(t), Seq("vec_id"), "left_semi")
      .select("cell").distinct().collect()
      .map(_.getAs[Number]("cell").intValue()).toSeq
    if (touched.nonEmpty) {
      val members = graft.Checkpoint.barrier(
        s.read.parquet(s"$indexDir/vectors")
          .filter(col("cell").isin(touched: _*))
          .join(broadcast(t), Seq("vec_id"), "left_anti")
          .select("vec_id", "embedding", "cell")
          .join(broadcast(cents), Seq("cell"))
          .withColumn("dist",
            graft.functions.GraftFunctions.l2_sq(col("embedding"), col("centroid")))
          .select("vec_id", "embedding", "cell", "dist"))
      val entries = graft.Checkpoint.barrier(
        s.read.parquet(s"$indexDir/entries")
          .filter(!col("cell").isin(touched: _*))
          .unionByName(graphEntriesOf(members)))
      entries.write.mode("overwrite").parquet(s"$indexDir/entries")
    }
  }

  /** Fold tombstones physically: rewrite only the (cell, batch) vector
    * partitions holding a victim, REBUILD the touched cells' adjacency
    * over the survivors (re-linking across the holes the masked state
    * leaves — which is why the compacted serve is gated by its own
    * oracle: survivor-kNN edges, not hole-masked build edges), refresh
    * entries, clear tombstones. All partition-scoped: O(touched), not
    * O(corpus).
    */
  private[graft] def compactGraphIndex(s: SparkSession, indexDir: String): Unit =
    tombstonesOf(s, indexDir).foreach { t =>
      val cents = s.read.parquet(s"$indexDir/centroids")
      val touched = graft.Tombstones.fold(s, s"$indexDir/vectors", "vec_id",
        "cell", t).map(_._1).distinct
      if (touched.nonEmpty) {
        val members = graft.Checkpoint.barrier(
          s.read.parquet(s"$indexDir/vectors")
            .filter(col("cell").isin(touched: _*))
            .select("vec_id", "embedding", "cell")
            .join(broadcast(cents), Seq("cell"))
            .withColumn("dist",
              graft.functions.GraftFunctions.l2_sq(col("embedding"), col("centroid")))
            .select("vec_id", "embedding", "cell", "dist"))
        graphEdgesOf(s, members, storedCells(s, indexDir))
          .select("src", "dst", "cell")
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(s"$indexDir/edges")
        restoreAggFallback(s)
        val entries = graft.Checkpoint.barrier(
          s.read.parquet(s"$indexDir/entries")
            .filter(!col("cell").isin(touched: _*))
            .unionByName(graphEntriesOf(members)))
        entries.write.mode("overwrite").parquet(s"$indexDir/entries")
      }
      graft.Scratch.rmTree(s"$indexDir/tombstones")
    }

  /** Beam search served from the persisted graph: queries route against
    * the stored centroids (same (dist, cell) tie-break as the build's
    * assignment ⇒ bit-identical cells), the routed cell ids — O(queries)
    * of them — prune the vectors and edges scans to the routed
    * partitions, and the walk itself is the shared [[graphBeamServe]].
    */
  def annGraphIndexed(s: SparkSession, d: String, indexDir: String): DataFrame =
    annGraphIndexedMaybeMasked(s, d, indexDir, masked = false)

  /** Tombstone-masked serve: candidates AND edges (either endpoint) are
    * anti-joined against the tombstone set before the walk — the
    * transitional hole-y graph state between a delete and its
    * compaction; entries were refreshed by the delete itself.
    */
  private[graft] def annGraphIndexedMasked(s: SparkSession, d: String,
      indexDir: String): DataFrame =
    annGraphIndexedMaybeMasked(s, d, indexDir, masked = true)

  private def annGraphIndexedMaybeMasked(s: SparkSession, d: String,
      indexDir: String, masked: Boolean): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val q = corpus(s, d).select("vec_id", "embedding")
      .filter(col("vec_id") < N_QUERIES)
      .toDF("query_id", "q_emb")
    val routed = q.crossJoin(broadcast(cents))
      .withColumn("dist",
        graft.functions.GraftFunctions.l2_sq(col("q_emb"), col("centroid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val cells = routed.select("cell").distinct().collect().map(_.getInt(0))
    val (vecs0, edges0) = graphPrunedStore(s, indexDir, cells.toSeq)
    val (vecs, edges) =
      if (masked) tombstonesOf(s, indexDir) match {
        case Some(t) =>
          (vecs0.join(broadcast(t), Seq("vec_id"), "left_anti"),
            edges0
              .join(broadcast(t.toDF("src")), Seq("src"), "left_anti")
              .join(broadcast(t.toDF("dst")), Seq("dst"), "left_anti"))
        case None => (vecs0, edges0)
      }
      else (vecs0, edges0)
    val entries = s.read.parquet(s"$indexDir/entries")
    graphBeamServe(s, routed, vecs, edges, entries)
  }

  /** The routed-cell-pruned store reads the persisted serve walks over —
    * factored so the plan audit (GraphAnnSpec) asserts PartitionFilters
    * on the EXACT DataFrames the serve uses.
    */
  private[graft] def graphPrunedStore(s: SparkSession, indexDir: String,
      cells: Seq[Int]): (DataFrame, DataFrame) = (
    s.read.parquet(s"$indexDir/vectors").filter(col("cell").isin(cells: _*)),
    s.read.parquet(s"$indexDir/edges").filter(col("cell").isin(cells: _*)))

  /** Driver-contract wrapper (staleness-fingerprinted build-once,
    * atomic publish).
    */
  def annGraphIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_graph", buildGraphIndex(s, d, _), annGraphIndexed(s, d, _))

  /** Persist the navigable routing layer beside a graph store: the
    * symmetrized centroid kNN edges and the population entry cell —
    * tiny sidecars (O(cells·RC) rows and one row), broadcast at serve
    * time. Derived FROM the stored centroids/vectors so the layer can
    * never drift from the index it routes.
    */
  private[graft] def buildGraphLayerOn(s: SparkSession, indexDir: String): Unit = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    centroidEdgesOf(cents).write.mode("overwrite")
      .parquet(s"$indexDir/cedges")
    entryCellOf(s.read.parquet(s"$indexDir/vectors").select("vec_id", "cell"))
      .write.mode("overwrite").parquet(s"$indexDir/entrycell")
  }

  /** The per-cell graph store plus the routing layer. */
  def buildGraphRoutedIndex(s: SparkSession, d: String,
      indexDir: String): Unit = {
    buildGraphIndex(s, d, indexDir)
    buildGraphLayerOn(s, indexDir)
  }

  /** Persisted routed serve: queries route through the STORED layer
    * (no per-query centroid scan), the walk reads only the probed
    * cells' vector/edge partitions — bit-identical to [[annGraphRouted]]
    * (same oracle).
    */
  def annGraphRoutedIndexed(s: SparkSession, d: String,
      indexDir: String): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val st = cgraphSteps(cents.count())
    val cedges = s.read.parquet(s"$indexDir/cedges")
    val entry = s.read.parquet(s"$indexDir/entrycell")
    val q = corpus(s, d).select("vec_id", "embedding")
      .filter(col("vec_id") < N_QUERIES)
      .toDF("query_id", "q_emb")
    // barriered: feeds the pruning cell-list AND the serve's seeds
    val probes = graft.Checkpoint.barrier(
      routeViaCentroidGraph(s, q, cents, entry, cedges,
        p = CGRAPH_P + st, b = CGRAPH_B + st, h = CGRAPH_H + st))
    val cells = probes.select("cell").distinct().collect()
      .map(_.getAs[Number]("cell").intValue())
    val (vecs, edges) = graphPrunedStore(s, indexDir, cells.toSeq)
    graphBeamServe(s, probes.join(q, Seq("query_id")), vecs, edges,
      s.read.parquet(s"$indexDir/entries"))
  }

  def annGraphRoutedIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_graph_routed", buildGraphRoutedIndex(s, d, _),
      annGraphRoutedIndexed(s, d, _))

  /** The cross-cell store: vectors as the per-cell store, plus the
    * symmetrized xcell adjacency partitioned by the SOURCE vector's
    * cell, plus the routing layer.
    */
  def buildGraphXcellIndex(s: SparkSession, d: String,
      indexDir: String): Unit =
    buildGraphXcellIndexOn(s, corpus(s, d).select("vec_id", "embedding"),
      indexDir, knownN = cachedCount(d, "full", corpus(s, d)))

  private[graft] def buildGraphXcellIndexOn(s: SparkSession,
      base: DataFrame, indexDir: String, k: Int = -1,
      knownN: Long = -1L): Unit = {
    val kk = if (k > 0) k else adaptiveK(base, knownN)
    buildGraphXcellIndexUnder(s, base, kmeansCentroidsOf(base, kk),
      indexDir, kk)
  }

  /** Centroids-given xcell derivation — see [[buildGraphIndexUnder]]. */
  private[graft] def buildGraphXcellIndexUnder(s: SparkSession,
      base: DataFrame, cents: DataFrame, indexDir: String,
      nCells: Long = KMEANS_K): Unit = {
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val asg = graft.Checkpoint.barrier(assignCells(s, base, cents))
    asg.select("vec_id", "embedding", "cell")
      .withColumn("batch", lit(-1L))
      .write.mode("overwrite").partitionBy("cell", "batch")
      .parquet(s"$indexDir/vectors")
    val cedges = centroidEdgesOf(cents)
    cedges.write.mode("overwrite").parquet(s"$indexDir/cedges")
    entryCellOf(asg).write.mode("overwrite").parquet(s"$indexDir/entrycell")
    // the FORWARD set is stored beside the symmetrized serve set: it is
    // the only representation maintenance can patch per-source (a
    // symmetrized store mixes each partition's own forward rows with
    // reverses owned by OTHER cells' sources)
    val srcCell = asg.select(col("vec_id").as("src"), col("cell"))
    val fwd = graft.Checkpoint.barrier(
      forwardKnnXcellOf(s, asg, asg, cedges, nCells, mirror = true)
        .join(srcCell, Seq("src")))
    restoreAggFallback(s)
    fwd.write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/fedges")
    symmetrized(fwd.select("src", "dst"))
      .join(srcCell, Seq("src"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/xedges")
    graphEntriesOf(asg).write.mode("overwrite").parquet(s"$indexDir/entries")
  }

  /** Persisted xcell serve, pruned to the probed cells' H-hop
    * ADJACENCY CLOSURE — exact, not approximate: edges only cross
    * centroid-adjacent seams, so an H-hop walk from the probed cells
    * provably never touches a vector (or needs an out-edge) outside
    * the closure; pruning both stores to it is answer-invisible while
    * reading O(P·deg^H) cells instead of the corpus.
    */
  def annGraphXcellIndexed(s: SparkSession, d: String,
      indexDir: String): DataFrame =
    annGraphXcellIndexedMaybeMasked(s, d, indexDir, masked = false)

  /** Tombstone-masked xcell serve — the hole-y transitional state:
    * candidates and either-endpoint edges anti-joined against the
    * tombstones; entries and the entry cell were refreshed by the
    * delete itself.
    */
  private[graft] def annGraphXcellIndexedMasked(s: SparkSession, d: String,
      indexDir: String): DataFrame =
    annGraphXcellIndexedMaybeMasked(s, d, indexDir, masked = true)

  private def annGraphXcellIndexedMaybeMasked(s: SparkSession, d: String,
      indexDir: String, masked: Boolean): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val st = cgraphSteps(cents.count())
    val cedges = s.read.parquet(s"$indexDir/cedges")
    val entry = s.read.parquet(s"$indexDir/entrycell")
    val q = corpus(s, d).select("vec_id", "embedding")
      .filter(col("vec_id") < N_QUERIES)
      .toDF("query_id", "q_emb")
    val probes = graft.Checkpoint.barrier(
      routeViaCentroidGraph(s, q, cents, entry, cedges,
        p = CGRAPH_P + st, b = CGRAPH_B + st, h = CGRAPH_H + st))
    // the closure must cover the WALK's reach — both scale together
    var closure = probes.select("cell").distinct()
    for (_ <- 1 to GRAPH_H + st)
      closure = closure.unionByName(
        closure.join(cedges.select(col("src").as("cell"), col("dst")),
          Seq("cell")).select(col("dst").as("cell"))).distinct()
    val cells = closure.collect().map(_.getAs[Number]("cell").intValue())
    val vecs0 = s.read.parquet(s"$indexDir/vectors")
      .filter(col("cell").isin(cells.toSeq: _*))
    val xedges0 = s.read.parquet(s"$indexDir/xedges")
      .filter(col("cell").isin(cells.toSeq: _*))
      .select("src", "dst")
    val (vecs, xedges) =
      if (masked) tombstonesOf(s, indexDir) match {
        case Some(t) =>
          (vecs0.join(broadcast(t), Seq("vec_id"), "left_anti"),
            xedges0
              .join(broadcast(t.toDF("src")), Seq("src"), "left_anti")
              .join(broadcast(t.toDF("dst")), Seq("dst"), "left_anti"))
        case None => (vecs0, xedges0)
      }
      else (vecs0, xedges0)
    // the vector walk gains the same step budget: crossing more seams
    // (more, smaller cells) needs proportionally more hops
    graphBeamServe(s, probes.join(q, Seq("query_id")), vecs, xedges,
      s.read.parquet(s"$indexDir/entries"), h = GRAPH_H + st)
  }

  /** DELETE for the xcell store: the shared graph delete (tombstones +
    * O(touched) entry refresh) plus the layer's population entry-cell
    * refresh over survivors. Adjacency is left in place and masked at
    * serve until [[compactGraphXcellIndex]] re-links.
    */
  private[graft] def deleteGraphXcellIndex(s: SparkSession, ids: DataFrame,
      indexDir: String, batchId: Long): Unit = {
    deleteGraphIndex(s, ids, indexDir, batchId)
    val t = tombstonesOf(s, indexDir).get
    val entry = graft.Checkpoint.barrier(entryCellOf(
      s.read.parquet(s"$indexDir/vectors")
        .join(broadcast(t), Seq("vec_id"), "left_anti")
        .select("vec_id", "cell")))
    entry.write.mode("overwrite").parquet(s"$indexDir/entrycell")
  }

  /** COMPACTION for the xcell store: vectors fold physically (the
    * shared (cell, batch) partition rewrite), the adjacency re-links
    * through the seam-correct [[relinkXcellIndex]] over survivor
    * membership, entries refresh for the victims' cells, tombstones
    * clear. All partition-scoped: O(victim neighborhood), not
    * O(corpus).
    */
  private[graft] def compactGraphXcellIndex(s: SparkSession,
      indexDir: String): Unit =
    tombstonesOf(s, indexDir).foreach { t =>
      val cents = s.read.parquet(s"$indexDir/centroids")
      val touched = graft.Tombstones.fold(s, s"$indexDir/vectors", "vec_id",
        "cell", t).map(_._1).distinct
      if (touched.nonEmpty) {
        relinkXcellIndex(s, indexDir, touched)
        val tMembers = s.read.parquet(s"$indexDir/vectors")
          .filter(col("cell").isin(touched: _*))
          .select("vec_id", "embedding", "cell")
          .join(broadcast(cents), Seq("cell"))
          .withColumn("dist",
            graft.functions.GraftFunctions.l2_sq(col("embedding"), col("centroid")))
        val entries = graft.Checkpoint.barrier(
          s.read.parquet(s"$indexDir/entries")
            .filter(!col("cell").isin(touched: _*))
            .unionByName(graphEntriesOf(tMembers)))
        entries.write.mode("overwrite").parquet(s"$indexDir/entries")
        val entry = graft.Checkpoint.barrier(entryCellOf(
          s.read.parquet(s"$indexDir/vectors").select("vec_id", "cell")))
        entry.write.mode("overwrite").parquet(s"$indexDir/entrycell")
      }
      graft.Scratch.rmTree(s"$indexDir/tombstones")
    }

  /** build → append → tombstone-delete → MASKED serve (hole-y state). */
  def annGraphXcellDeleted(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "graph_xcell_del")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildGraphXcellIndexOn(s, base.filter(!IncrArrival), dir,
      knownN = cachedCount(d, "pre", base.filter(!IncrArrival)))
    appendGraphXcellIndex(s, base.filter(IncrArrival), dir, batchId = 0L)
    deleteGraphXcellIndex(s, base.filter(DeleteVictims).select("vec_id"),
      dir, batchId = 1L)
    annGraphXcellIndexedMasked(s, d, dir)
  }

  /** …then compacted: survivor-kNN re-linked one seam wide (own oracle). */
  def annGraphXcellDeletedCompacted(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "graph_xcell_delc")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildGraphXcellIndexOn(s, base.filter(!IncrArrival), dir,
      knownN = cachedCount(d, "pre", base.filter(!IncrArrival)))
    appendGraphXcellIndex(s, base.filter(IncrArrival), dir, batchId = 0L)
    deleteGraphXcellIndex(s, base.filter(DeleteVictims).select("vec_id"),
      dir, batchId = 1L)
    compactGraphXcellIndex(s, dir)
    annGraphXcellIndexed(s, d, dir)
  }

  def annGraphXcellIndexedAuto(s: SparkSession, d: String): DataFrame =
    autoIndexed(d, "_graph_xcell", buildGraphXcellIndex(s, d, _),
      annGraphXcellIndexed(s, d, _))

  /** Routed-layer maintenance: arrivals land through the graph append
    * (touched-cell subgraph rebuild), then the POPULATION entry cell
    * refreshes — the one layer component arrivals can shift. The
    * stored centroids are append-invariant, so cedges is too, by
    * construction.
    */
  private[graft] def appendGraphRoutedIndex(s: SparkSession,
      newRows: DataFrame, indexDir: String, batchId: Long): Unit = {
    appendGraphIndex(s, newRows, indexDir, batchId)
    val entry = graft.Checkpoint.barrier(entryCellOf(
      s.read.parquet(s"$indexDir/vectors").select("vec_id", "cell")))
    entry.write.mode("overwrite").parquet(s"$indexDir/entrycell")
  }

  /** Routed lifecycle gated: build on 9/10, append the arriving 1/10
    * through the layer-refreshing append, serve the persisted routed
    * form — oracle is the FULL fresh routed build under the
    * slice-trained centroids, so a hash match proves the append left
    * no seam in the graph OR the layer.
    */
  def annGraphRoutedIncr(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "graph_routed_incr")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildGraphIndexOn(s, base.filter(!IncrArrival), dir,
      knownN = cachedCount(d, "pre", base.filter(!IncrArrival)))
    buildGraphLayerOn(s, dir)
    appendGraphRoutedIndex(s, base.filter(IncrArrival), dir, batchId = 0L)
    annGraphRoutedIndexed(s, d, dir)
  }

  /** Seam-correct XCELL re-link, shared by append and compaction (the
    * r17 append/compact rewrote only `affected` partitions, which is
    * ONE SEAM SHORT for a symmetrized store — ADVICE r18 high).
    * Membership changed in `touched` cells, so:
    *   - the FORWARD top-R changes exactly for sources in
    *     affected = touched ∪ adjacent(touched) (their candidate
    *     universe gained/lost members); every other source's forward
    *     list is provably unchanged (no touched cell is in its
    *     candidate set);
    *   - a symmetrized partition c also holds REVERSE rows of forward
    *     edges from sources in adjacent(c), so the xedge partitions
    *     whose content can change are universe = affected ∪
    *     adjacent(affected), and rebuilding them needs the forward
    *     rows of sources one seam wider still (universe2).
    * Affected sources' forward lists are recomputed over candidate
    * membership in universe (their FULL candidate set — never the
    * truncated universe the r17 code scored, which promoted spurious
    * picks); unchanged sources' forward lists are read back from the
    * stored forward set. Cell-id sets are O(cells) driver lists; the
    * isin filters optimize to single InSet nodes (constant expression
    * size at any cell count) and prune the partitioned scans
    * statically; both writes are dynamic partition overwrites scoped
    * to affected / universe.
    */
  private def relinkXcellIndex(s: SparkSession, indexDir: String,
      touched: Seq[Int]): Unit = {
    if (touched.isEmpty) return
    val cedges = s.read.parquet(s"$indexDir/cedges")
    val adjMap = cedges.collect()
      .map(r => (r.getAs[Number]("src").intValue(),
        r.getAs[Number]("dst").intValue()))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def widen(cs: Set[Int]): Set[Int] =
      cs ++ cs.flatMap(c => adjMap.getOrElse(c, Set.empty[Int]))
    val affected = widen(touched.toSet)
    val universe = widen(affected)
    val universe2 = widen(universe)
    def inCells(df: DataFrame, cs: Set[Int]): DataFrame =
      df.filter(col("cell").isin(cs.toSeq: _*))
    val vecs = s.read.parquet(s"$indexDir/vectors")
      .select("vec_id", "embedding", "cell")
    val membersU = graft.Checkpoint.barrier(inCells(vecs, universe))
    val fwdAff = graft.Checkpoint.barrier(
      forwardKnnXcellOf(s, inCells(membersU, affected), membersU, cedges,
        storedCells(s, indexDir))
        .join(membersU.select(col("vec_id").as("src"), col("cell")),
          Seq("src")))
    restoreAggFallback(s)
    fwdAff.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$indexDir/fedges")
    // merged forward set (recomputed affected + stored unchanged),
    // symmetrized, then only the partitions that can differ rewritten
    val fwdU2 = inCells(s.read.parquet(s"$indexDir/fedges"), universe2)
      .select("src", "dst")
    val srcCellU2 = inCells(
      s.read.parquet(s"$indexDir/vectors").select("vec_id", "cell"),
      universe2).select(col("vec_id").as("src"), col("cell"))
    inCells(symmetrized(fwdU2).join(srcCellU2, Seq("src")), universe)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$indexDir/xedges")
  }

  /** Seam-free XCELL append: arrival batches land in their own
    * (cell, batch) partitions, the adjacency re-links through the
    * shared seam-correct [[relinkXcellIndex]], entries refresh for
    * touched cells, the entry cell re-derives from the new populations.
    * Write cost is O(neighborhood membership), not O(corpus).
    */
  private[graft] def appendGraphXcellIndex(s: SparkSession,
      newRows: DataFrame, indexDir: String, batchId: Long): Unit = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val asg = graft.Checkpoint.barrier(assignCells(s, newRows, cents))
    asg.select("vec_id", "embedding", "cell")
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch").parquet(s"$indexDir/vectors")
    val touched = asg.select("cell").distinct().collect()
      .map(_.getAs[Number]("cell").intValue()).toSeq
    relinkXcellIndex(s, indexDir, touched)
    val tMembers = s.read.parquet(s"$indexDir/vectors")
      .filter(col("cell").isin(touched: _*))
      .select("vec_id", "embedding", "cell")
      .join(broadcast(cents), Seq("cell"))
      .withColumn("dist",
        graft.functions.GraftFunctions.l2_sq(col("embedding"), col("centroid")))
    val entries = graft.Checkpoint.barrier(
      s.read.parquet(s"$indexDir/entries")
        .filter(!col("cell").isin(touched: _*))
        .unionByName(graphEntriesOf(tMembers)))
    entries.write.mode("overwrite").parquet(s"$indexDir/entries")
    val entry = graft.Checkpoint.barrier(entryCellOf(
      s.read.parquet(s"$indexDir/vectors").select("vec_id", "cell")))
    entry.write.mode("overwrite").parquet(s"$indexDir/entrycell")
  }

  /** XCELL lifecycle gated against the fresh-build oracle (slice-
    * trained centroids): a hash match proves the one-seam-wider
    * affected-set rebuild is exactly seam-free.
    */
  def annGraphXcellIncr(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "graph_xcell_incr")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildGraphXcellIndexOn(s, base.filter(!IncrArrival), dir,
      knownN = cachedCount(d, "pre", base.filter(!IncrArrival)))
    appendGraphXcellIndex(s, base.filter(IncrArrival), dir, batchId = 0L)
    annGraphXcellIndexed(s, d, dir)
  }

  /** The incremental lifecycle gated: graph built on 9/10 of the
    * corpus, the arriving 1/10 cell-appended with the touched cells'
    * subgraphs re-derived — the oracle is the FULL fresh build under
    * the slice-trained centroids, so a hash match proves the
    * partition-scoped append leaves no seam (no stale adjacency, no
    * unreachable arrivals).
    */
  def annGraphIncr(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "graph_incr")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildGraphIndexOn(s, base.filter(!IncrArrival), dir,
      knownN = cachedCount(d, "pre", base.filter(!IncrArrival)))
    appendGraphIndex(s, base.filter(IncrArrival), dir, batchId = 0L)
    annGraphIndexed(s, d, dir)
  }

  /** build → append → tombstone-delete → serve MASKED: the walk runs
    * over the hole-y graph (dead nodes and their edges dropped, no
    * re-linking), entries already refreshed by the delete.
    */
  def annGraphDeleted(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "graph_del")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildGraphIndexOn(s, base.filter(!IncrArrival), dir,
      knownN = cachedCount(d, "pre", base.filter(!IncrArrival)))
    appendGraphIndex(s, base.filter(IncrArrival), dir, batchId = 0L)
    deleteGraphIndex(s, base.filter(DeleteVictims).select("vec_id"), dir,
      batchId = 1L)
    annGraphIndexedMaybeMasked(s, d, dir, masked = true)
  }

  /** Same lifecycle + physical compaction: touched cells' adjacency is
    * REBUILT over the survivors (re-linking across the holes), so this
    * gate carries its own oracle — survivor-kNN edges, which can
    * legitimately answer differently from the masked walk.
    */
  def annGraphDeletedCompacted(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.processDir(d, "graph_delc")
    val base = corpus(s, d).select("vec_id", "embedding")
    buildGraphIndexOn(s, base.filter(!IncrArrival), dir,
      knownN = cachedCount(d, "pre", base.filter(!IncrArrival)))
    appendGraphIndex(s, base.filter(IncrArrival), dir, batchId = 0L)
    deleteGraphIndex(s, base.filter(DeleteVictims).select("vec_id"), dir,
      batchId = 1L)
    compactGraphIndex(s, dir)
    annGraphIndexed(s, d, dir)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_ivf" -> (annIvf _),
    "q_ann_ivf_probe3" -> ((s: SparkSession, d: String) => annIvfProbe(s, d, 3)),
    "q_ann_ivf_indexed" -> (annIvfIndexedAuto _),
    "q_kmeans_cells" -> (kmeansCells _),
    "q_kmeans_centroids" -> (kmeansCentroidsFlat _),
    // per-cell prototype quota: diversity-balanced corpus subsample
    "q_sample_diverse" -> (sampleDiverse _),
    // the served form off the persisted k-means index (no training)
    "q_sample_diverse_indexed" -> (sampleDiverseIndexedAuto _),
    "q_ann_ivf_kmeans" -> (annIvfKmeans _),
    "q_ann_ivf_kmeans_indexed" -> (annIvfKmeansIndexedAuto _),
    "q_ann_ivf_kmeans_incr" -> (annIvfKmeansIncr _),
    // the raw-vector store's delete lifecycle (tombstone-masked serve)
    "q_ann_ivf_kmeans_delete" -> (annIvfKmeansDeleted _),
    // the same deletes arriving as a stream (per-batch tombstones,
    // exactly-once) — answer must be arrival-shape-independent
    "q_ann_ivf_kmeans_delete_stream" ->
      (graft.streaming.Streams.ivfDeleteStreamed _),
    // the streamed ingest twin: arrivals cell-append per micro-batch
    "q_ann_ivf_kmeans_incr_stream" ->
      (graft.streaming.Streams.ivfIndexStreamed _),
    // the composed compressed index maintained incrementally
    "q_ann_ivfpq_incr" -> (annIvfPqIncr(_, _)),
    // the index lifecycle's missing third: build + append + tombstone
    // DELETE, served masked / served after physical compaction
    "q_ann_ivfpq_delete" -> (annIvfPqDeleted(_, _)),
    "q_ann_ivfpq_delete_compact" -> (annIvfPqDeletedCompacted(_, _)),
    // delete × refine composition: exact re-rank over the masked index
    "q_ann_ivfpq_refined_delete" -> (annIvfPqRefinedDeleted _),
    "q_ann_ivf_kmeans_probe2" -> ((s: SparkSession, d: String) => annIvfKmeansProbe(s, d, 2)),
    "q_ann_topk_agg" -> (annTopKAgg _),
    "q_embed_norm" -> (embedNorm _),
    "q_ann_brute" -> (annBruteForce _),
    // label-excluded top-k: near-miss negatives for contrastive training
    "q_hard_negatives" -> (hardNegatives _),
    // the scale path: the exclusion rides on the IVF-probed candidates
    "q_hard_negatives_ivf" ->
      ((s: SparkSession, d: String) => hardNegativesIvf(s, d, 2)),
    "q_ann_lsh_buckets" -> (lshBuckets _),
    "q_embed_neardup" -> (embedNearDup(_, _)),
    "q_embed_neardup_indexed" -> (embedNearDupIndexedAuto _),
    "q_semdedup" -> (semDedup _),
    "q_pq_codes" -> (pqCodes _),
    "q_ann_pq" -> (annPqAdc _),
    "q_ann_pq_indexed" -> (annPqIndexedAuto _),
    "q_ann_ivfpq" -> (annIvfPq(_, _)),
    "q_ann_ivfpq_indexed" -> (annIvfPqIndexedAuto(_, _)),
    // the composed probe + exact re-rank of the top-REFINE_C ADC
    // candidates against the original vectors
    "q_ann_ivfpq_refined" -> (annIvfPqRefined(_, _)),
    // the serving form: ADC shortlist off the stored codes, exact
    // re-rank as point lookups — bit-identical to the refined probe
    "q_ann_ivfpq_refined_indexed" -> (annIvfPqRefinedIndexedAuto _),
    // residual-encoded IVF-PQ (Jégou et al.): codebooks train on
    // vec − coarse_centroid, the classic recall lever for the
    // compressed family — self-contained, served, incremental, and
    // the full delete/compact lifecycle
    "q_ann_ivfpq_residual" ->
      ((s: SparkSession, d: String) => annIvfPq(s, d, residual = true)),
    // wide codebooks (K=64 → 24-bit codes): the code-budget lever
    "q_ann_ivfpq_residual_k64" -> ((s: SparkSession, d: String) =>
      annIvfPq(s, d, residual = true, k = 64)),
    // fine subspace split (M=16 × 4 dims → 48-bit codes): the
    // precision lever that actually moves ADC recall
    "q_ann_ivfpq_residual_m16" -> ((s: SparkSession, d: String) =>
      annIvfPq(s, d, residual = true, m = 16)),
    // residual shortlist + exact re-rank: the full production stack
    "q_ann_ivfpq_residual_refined" -> ((s: SparkSession, d: String) =>
      annIvfPqRefined(s, d, residual = true)),
    // deep shortlist (c=80): the recall lever on a
    // distance-concentrated corpus, still O(c·|queries|) lookups
    "q_ann_ivfpq_refined_c80" ->
      ((s: SparkSession, d: String) => annIvfPqRefined(s, d, c = 80)),
    "q_ann_ivfpq_residual_indexed" -> ((s: SparkSession, d: String) =>
      annIvfPqIndexedAuto(s, d, residual = true)),
    "q_ann_ivfpq_residual_incr" -> ((s: SparkSession, d: String) =>
      annIvfPqIncr(s, d, residual = true)),
    "q_ann_ivfpq_residual_delete" -> ((s: SparkSession, d: String) =>
      annIvfPqDeleted(s, d, residual = true)),
    "q_ann_ivfpq_residual_delete_compact" -> ((s: SparkSession, d: String) =>
      annIvfPqDeletedCompacted(s, d, residual = true)),
    // SQ8 scalar quantization: the 4×-compression frontier point whose
    // compressed-domain ranking stays near-exact (per-dim 8-bit error
    // vs PQ's per-subspace codebook error) — trained quantizer (64-row
    // min/max), compressed corpus, probe, refined probe, persisted
    // serve, incremental append, tombstone delete
    "q_sq8_minmax" -> (sq8MinMax _),
    "q_sq8_codes" -> (sq8Codes _),
    "q_ann_sq8" -> (annSq8 _),
    "q_ann_sq8_refined" ->
      ((s: SparkSession, d: String) => annSq8Refined(s, d)),
    "q_ann_sq8_indexed" -> (annSq8IndexedAuto _),
    "q_ann_sq8_incr" -> (annSq8Incr _),
    // arrivals as a micro-batched stream: answer must be
    // arrival-shape-independent (same oracle as the batch incr)
    "q_ann_sq8_incr_stream" ->
      (graft.streaming.Streams.sq8IndexStreamed _),
    "q_ann_sq8_delete" -> (annSq8Deleted _),
    // retrain-on-drift: shifted arrivals saturate the stored range, the
    // clamp monitor fires, and the store retrains + re-encodes — the
    // oracle re-derives the NEW training over the modified corpus
    "q_ann_sq8_retrain" -> (annSq8Retrain _),
    // the drift monitor INSIDE the stream: the first shifted batch
    // fires the retrain mid-stream, the second lands in-range under
    // the new training — final state pinned by its own oracle
    "q_ann_sq8_retrain_stream" ->
      (graft.streaming.Streams.sq8RetrainStreamed _),
    // the composed coarse-route + in-cell SQ8 ranking: cell-pruned
    // search at the near-exact quantizer's recall
    "q_ann_ivfsq8" ->
      ((s: SparkSession, d: String) => annIvfSq8(s, d)),
    // the persisted form: routed cells' partitions only, stored codes
    "q_ann_ivfsq8_indexed" -> (annIvfSq8IndexedAuto _),
    // cell-pruned shortlist + exact re-rank: the full composed stack
    "q_ann_ivfsq8_refined" ->
      ((s: SparkSession, d: String) => annIvfSq8Refined(s, d)),
    // the probe-width recall knob, same as the kmeans family's
    "q_ann_ivfsq8_probe2" ->
      ((s: SparkSession, d: String) => annIvfSq8(s, d, nProbe = 2)),
    // per-cell min/max training: the per-partition quantizer the drift
    // measurement motivates (tight ranges per population on a bimodal
    // corpus, where one global row pays wide-bin error everywhere)
    "q_ann_ivfsq8_cell" -> (annIvfSq8Cell _),
    // the persisted per-cell store: routed-cell-pruned scan, same oracle
    "q_ann_ivfsq8_cell_indexed" -> (annIvfSq8CellIndexedAuto _),
    // the per-cell store's append path: arrivals encoded under the
    // stored rows, worst-cell clamp monitored, no retraining
    "q_ann_ivfsq8_cell_incr" -> (annIvfSq8CellIncr _),
    // graph ANN: per-cell navigable kNN graph + H-hop beam search — the
    // serving family whose exact reads scale with the walk (≤ 1+H·B·R),
    // not with a fixed c-deep shortlist; self-contained and served off
    // the persisted cell-partitioned adjacency
    "q_ann_graph" -> (annGraph _),
    "q_ann_graph_indexed" -> (annGraphIndexedAuto _),
    // centroid-layer routing: entry cells picked by greedy descent over
    // the navigable centroid graph (O(RC·HC) centroid evals, not
    // O(cells)), PC probed cells per query — the boundary-straddle
    // repair without the flat routing scan
    "q_ann_graph_routed" -> (annGraphRouted _),
    // cross-cell boundary edges: adjacency selected from own-plus-
    // centroid-adjacent cell blocks, walk crosses seams — recovers
    // neighbors beyond every probed cell's reach
    "q_ann_graph_xcell" -> (annGraphXcell _),
    // persisted forms: the routing layer stored beside the index (no
    // per-query centroid scan), walks over partition-pruned stores —
    // probed cells (routed) / their H-hop adjacency closure (xcell)
    "q_ann_graph_routed_indexed" -> (annGraphRoutedIndexedAuto _),
    "q_ann_graph_xcell_indexed" -> (annGraphXcellIndexedAuto _),
    // lifecycle: appends through the layer-refreshing maintenance —
    // oracles are FULL fresh builds (slice-trained), the seam-free pin
    "q_ann_graph_routed_incr" -> (annGraphRoutedIncr _),
    "q_ann_graph_xcell_incr" -> (annGraphXcellIncr _),
    // micro-batched arrivals through the same maintenance — arrival
    // shape unobservable (same fresh-build oracle)
    "q_ann_graph_routed_incr_stream" ->
      (graft.streaming.Streams.graphRoutedIndexStreamed _),
    "q_ann_graph_xcell_incr_stream" ->
      (graft.streaming.Streams.graphXcellIndexStreamed _),
    // delete: tombstone-masked hole-y seam-crossing walk; compact:
    // survivor re-link one seam wide (own oracle)
    "q_ann_graph_xcell_delete" -> (annGraphXcellDeleted _),
    "q_ann_graph_xcell_delete_compact" -> (annGraphXcellDeletedCompacted _),
    // the DiskANN composition: the walk GUIDED by 4x SQ8 codes, only
    // the visited set re-ranked against full-precision vectors
    "q_ann_graph_sq8" -> (annGraphSq8 _),
    // graph lifecycle: partition-scoped append (touched-cell subgraph
    // rebuild == full fresh build, the seam-free invariant the oracle
    // checks), tombstone-masked hole-y serve, survivor-kNN compaction
    "q_ann_graph_incr" -> (annGraphIncr _),
    // arrivals as micro-batches through the same seam-free append —
    // answer must be arrival-shape-independent (same oracle)
    "q_ann_graph_incr_stream" ->
      (graft.streaming.Streams.graphIndexStreamed _),
    "q_ann_graph_delete" -> (annGraphDeleted _),
    // the same victims arriving as a micro-batched stream — arrival
    // shape unobservable (same hole-y-walk oracle)
    "q_ann_graph_delete_stream" ->
      (graft.streaming.Streams.graphDeleteStreamed _),
    "q_ann_graph_delete_compact" -> (annGraphDeletedCompacted _))

  /** The k-means oracle mirrors each fixed Lloyd round as a CTE pair
    * (assignment under the previous centroids, exact-integer means), so
    * DuckDB re-runs the identical computation and the gate is bit-exact.
    */
  private def kmeansCtes: String = kmeansCtesTrainedOn("kbase", "")

  /** Shared by the self-contained and index-served diversity-sample
    * gates: full Lloyd re-train, assignment, per-cell quota.
    */
  private lazy val sampleDiverseOracle: String =
    s"""WITH $kmeansCtes,
asg AS (
  SELECT vec_id, cell, dist FROM (
    SELECT b.vec_id, c.cell,
           ${l2sq("b.embedding", "c.centroid").duck} AS dist,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1)
SELECT cell, vec_id, dist, posicao FROM (
  SELECT cell, vec_id, dist,
         CAST(row_number() OVER (PARTITION BY cell ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS posicao
  FROM asg)
WHERE posicao <= $DiverseQ ORDER BY cell, posicao"""

  /** The Lloyd CTE chain with an explicit TRAINING source — `trainSrc`
    * feeds init and every round's assignment; the full `kbase` stays
    * available for the final serving assignment. The incremental-index
    * oracle trains on the build slice only (`trainCte` injects it) while
    * the default leaves training = full corpus.
    */
  private def kmeansCtesTrainedOn(trainSrc: String, trainCte: String): String = {
    def asg(n: Int, cent: String) =
      s"""asg$n AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT b.vec_id, b.embedding, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM $trainSrc b CROSS JOIN $cent c)
  WHERE rn = 1
)"""
    def cent(n: Int, src: String) =
      s"""cent$n AS (
  SELECT cell, list(m ORDER BY i) AS centroid FROM (
    SELECT cell, i,
           CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1000000.0) AS m
    FROM (SELECT cell, i, embedding[i] AS x
          FROM $src, (SELECT unnest(generate_series(1, $DIM)) AS i))
    GROUP BY cell, i)
  GROUP BY cell
)"""
    val rounds = (1 to KMEANS_ITERS)
      .map(t => s"${asg(t, s"cent${t - 1}")},\n${cent(t, s"asg$t")}")
      .mkString(",\n")
    s"""kbase AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings),
$trainCte cent0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cell,
         list_transform(generate_series(1, $DIM), i ->
           CAST(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0) AS centroid
  FROM $trainSrc WHERE vec_id < $KMEANS_K
),
$rounds"""
  }

  /** The PQ oracle mirrors the per-subspace training exactly as
    * [[kmeansCtes]] mirrors the full-vector one — every CTE keyed by the
    * subspace id m, fixed unrolled rounds, exact-integer means — so DuckDB
    * re-trains all four codebooks and the codes/ADC results gate
    * bit-exactly.
    */
  private def pqCtes: String = pqCtesTrainedOn("pqbase", "")

  /** The per-subspace training CTEs with an explicit TRAINING source
    * (init + every round read `trainSrc`); the FINAL encoding assignment
    * (`pcodes`) always covers the full `pqbase` — matching the
    * incremental index, which encodes arrivals under codebooks trained
    * on the build slice. `src` is the vector table the sub-vector base
    * explodes ("embeddings" for the raw-vector family; "rbase" for the
    * residual-encoded family, whose vectors are the coarse-assignment
    * residuals).
    */
  private def pqCtesTrainedOn(trainSrc: String, trainCte: String,
      src: String = "embeddings", k: Int = PQ_K, m: Int = PQ_M): String = {
    val subDim = DIM / m
    def asg(n: Int, cent: String, src: String) =
      s"""pasg$n AS (
  SELECT vec_id, m, sub, cell FROM (
    SELECT b.vec_id, b.m, b.sub, c.cell,
           row_number() OVER (PARTITION BY b.vec_id, b.m ORDER BY
             ${l2sq("b.sub", "c.centroid", subDim).duck} ASC, c.cell ASC) AS rn
    FROM $src b JOIN $cent c ON b.m = c.m)
  WHERE rn = 1
)"""
    def cent(n: Int, src: String) =
      s"""pcent$n AS (
  SELECT m, cell, list(mean ORDER BY i) AS centroid FROM (
    SELECT m, cell, i,
           CAST(SUM(CAST(round(CAST(sub[i] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1000000.0) AS mean
    FROM $src, (SELECT unnest(generate_series(1, $subDim)) AS i)
    GROUP BY m, cell, i)
  GROUP BY m, cell
)"""
    val rounds = (1 to PQ_ITERS)
      .map(t => s"${asg(t, s"pcent${t - 1}", trainSrc)},\n${cent(t, s"pasg$t")}")
      .mkString(",\n")
    // one extra assignment under the FINAL codebooks = the stored codes
    s"""pqbase AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, mm.m AS m,
         list_slice(embedding, mm.m * $subDim + 1, (mm.m + 1) * $subDim) AS sub
  FROM $src CROSS JOIN (SELECT unnest([${(0 until m).mkString(", ")}]) AS m) mm),
$trainCte pcent0 AS (
  SELECT m, CAST(vec_id AS INTEGER) AS cell,
         list_transform(generate_series(1, $subDim), i ->
           CAST(CAST(round(CAST(sub[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0) AS centroid
  FROM $trainSrc WHERE vec_id < $k
),
$rounds,
${asg(PQ_ITERS + 1, s"pcent$PQ_ITERS", "pqbase")},
pcodes AS (
  SELECT vec_id,
         ${(0 until m).map(i =>
            s"CAST(MAX(CASE WHEN m = $i THEN cell END) AS INTEGER) AS c$i")
            .mkString(",\n         ")}
  FROM pasg${PQ_ITERS + 1} GROUP BY vec_id
)"""
  }

  private def pqCodesOracle: String =
    s"""WITH $pqCtes
SELECT vec_id, c0, c1, c2, c3 FROM pcodes ORDER BY vec_id"""

  private def annPqOracle: String =
    s"""WITH $pqCtes,
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.cell,
         ${l2sq("q.sub", "c.centroid", PQ_SUB).duck} AS part
  FROM (SELECT * FROM pqbase WHERE vec_id < $N_QUERIES) q
  JOIN pcent$PQ_ITERS c ON q.m = c.m)
SELECT query_id, vizinho, adist, rank FROM (
  SELECT l0.query_id, k.vec_id AS vizinho,
         l0.part + l1.part + l2.part + l3.part AS adist,
         CAST(row_number() OVER (PARTITION BY l0.query_id ORDER BY
           l0.part + l1.part + l2.part + l3.part ASC, k.vec_id ASC) AS INTEGER) AS rank
  FROM pcodes k
  JOIN lut l0 ON l0.m = 0 AND l0.cell = k.c0
  JOIN lut l1 ON l1.m = 1 AND l1.cell = k.c1 AND l1.query_id = l0.query_id
  JOIN lut l2 ON l2.m = 2 AND l2.cell = k.c2 AND l2.query_id = l0.query_id
  JOIN lut l3 ON l3.m = 3 AND l3.cell = k.c3 AND l3.query_id = l0.query_id
  WHERE l0.query_id <> k.vec_id)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** IVF-PQ oracle: BOTH trainings recomputed (full-vector Lloyd CTEs +
    * per-subspace codebook CTEs — disjoint CTE namespaces, one WITH), then
    * the composed route-then-ADC probe.
    */
  private def annIvfPqOracle: String = annIvfPqOracleFrom(kmeansCtes, pqCtes)

  /** The incremental composed-index oracle: BOTH trainings over the
    * build slice (vec_id % 10 <> 9), encode + coarse assignment over the
    * full corpus — what build+append must be indistinguishable from.
    */
  private def annIvfPqIncrOracle: String = annIvfPqOracleFrom(
    kmeansCtesTrainedOn("ktrain",
      "ktrain AS (SELECT * FROM kbase WHERE vec_id % 10 <> 9),\n"),
    pqCtesTrainedOn("pqtrain",
      "pqtrain AS (SELECT * FROM pqbase WHERE vec_id % 10 <> 9),\n"))

  /** The composed probe's shared oracle CTEs (both trainings + coarse
    * assignment + routing + per-query LUT) and the ADC-ranked candidate
    * subselect — shared by the plain top-k and the refined oracles.
    */
  private def annIvfPqOracleCtes(kCtes: String, pCtes: String): String =
    s"""$kCtes,
$pCtes,
ivfin AS (
  SELECT vec_id, cell FROM (
    SELECT b.vec_id, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1
),
ivrouted AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             ${l2sq("q.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rk
    FROM (SELECT * FROM kbase WHERE vec_id < $N_QUERIES) q
    CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rk = 1
),
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.cell AS code,
         ${l2sq("q.sub", "c.centroid", PQ_SUB).duck} AS part
  FROM (SELECT * FROM pqbase WHERE vec_id < $N_QUERIES) q
  JOIN pcent$PQ_ITERS c ON q.m = c.m)"""

  private val annIvfPqAdcRanked: String = annIvfPqAdcRankedWhere("TRUE")

  /** The ADC-ranked candidate subselect with an extra candidate-set
    * predicate — "TRUE" for the full index, a survival predicate for the
    * delete-lifecycle oracles (the deleted ids must vanish from the
    * CANDIDATE set before ranking, exactly what the tombstone anti-join
    * does on the serve side).
    */
  private def annIvfPqAdcRankedWhere(surviving: String): String =
    s"""SELECT r.query_id, k.vec_id AS vizinho,
         l0.part + l1.part + l2.part + l3.part AS adist,
         CAST(row_number() OVER (PARTITION BY r.query_id ORDER BY
           l0.part + l1.part + l2.part + l3.part ASC, k.vec_id ASC) AS INTEGER) AS rank
  FROM ivrouted r
  JOIN ivfin f ON f.cell = r.cell AND f.vec_id <> r.query_id AND ($surviving)
  JOIN pcodes k ON k.vec_id = f.vec_id
  JOIN lut l0 ON l0.query_id = r.query_id AND l0.m = 0 AND l0.code = k.c0
  JOIN lut l1 ON l1.query_id = r.query_id AND l1.m = 1 AND l1.code = k.c1
  JOIN lut l2 ON l2.query_id = r.query_id AND l2.m = 2 AND l2.code = k.c2
  JOIN lut l3 ON l3.query_id = r.query_id AND l3.m = 3 AND l3.code = k.c3"""

  private def annIvfPqOracleFrom(kCtes: String, pCtes: String): String =
    s"""WITH ${annIvfPqOracleCtes(kCtes, pCtes)}
SELECT query_id, vizinho, adist, rank FROM (
  $annIvfPqAdcRanked)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** The delete-lifecycle oracle: the SAME trainings as the incremental
    * oracle (build slice only — a delete never retrains), assignment
    * over the full corpus, and the candidate set minus the gated victim
    * predicate (mod-5 4th ids, sparing the query vectors). Shared by the
    * tombstone-masked and compacted serves — both must answer this.
    */
  private def annIvfPqDeleteOracle: String =
    s"""WITH ${annIvfPqOracleCtes(
      kmeansCtesTrainedOn("ktrain",
        "ktrain AS (SELECT * FROM kbase WHERE vec_id % 10 <> 9),\n"),
      pqCtesTrainedOn("pqtrain",
        "pqtrain AS (SELECT * FROM pqbase WHERE vec_id % 10 <> 9),\n"))}
SELECT query_id, vizinho, adist, rank FROM (
  ${annIvfPqAdcRankedWhere(
      s"NOT (f.vec_id % 5 = 4 AND f.vec_id >= $N_QUERIES)")})
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** The refined oracle: the ADC shortlist widened to REFINE_C, then
    * exact L2² re-scoring against the original vectors (same fold order
    * as the Spark kernel) and the final top-k by (exact ASC, id ASC).
    */
  private def annIvfPqRefinedOracle: String =
    annIvfPqRefinedOracleFrom(
      annIvfPqOracleCtes(kmeansCtes, pqCtes), "TRUE")

  /** The deep-shortlist refined oracle (c=80): same chain, only the
    * shortlist depth differs — the recall lever the refine-depth
    * frontier measures.
    */
  private def annIvfPqRefinedC80Oracle: String =
    annIvfPqRefinedOracleFrom(
      annIvfPqOracleCtes(kmeansCtes, pqCtes), "TRUE", c = 80)

  /** The refined probe over the delete lifecycle's index: incr trainings
    * (build slice) and the ADC candidate set minus the victims — the
    * exact re-rank then only ever touches surviving shortlist ids.
    */
  private def annIvfPqRefinedDeleteOracle: String =
    annIvfPqRefinedOracleFrom(
      annIvfPqOracleCtes(
        kmeansCtesTrainedOn("ktrain",
          "ktrain AS (SELECT * FROM kbase WHERE vec_id % 10 <> 9),\n"),
        pqCtesTrainedOn("pqtrain",
          "pqtrain AS (SELECT * FROM pqbase WHERE vec_id % 10 <> 9),\n")),
      s"NOT (f.vec_id % 5 = 4 AND f.vec_id >= $N_QUERIES)")

  private def annIvfPqRefinedOracleFrom(ctes: String,
      surviving: String, c: Int = REFINE_C): String =
    s"""WITH $ctes,
shortlist AS (
  SELECT query_id, vizinho FROM (
  ${annIvfPqAdcRankedWhere(surviving)})
  WHERE rank <= $c)
SELECT query_id, vizinho, dist, rank FROM (
  SELECT sl.query_id, sl.vizinho,
         ${l2sq("q.embedding", "b.embedding").duck} AS dist,
         CAST(row_number() OVER (PARTITION BY sl.query_id ORDER BY
           ${l2sq("q.embedding", "b.embedding").duck} ASC, sl.vizinho ASC) AS INTEGER) AS rank
  FROM shortlist sl
  JOIN kbase q ON q.vec_id = sl.query_id
  JOIN kbase b ON b.vec_id = sl.vizinho)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** The residual bases shared by the residual-encoded oracles: `rasg`
    * re-derives every vector's coarse assignment under the FINAL trained
    * centroids (carrying the centroid itself), and `rbase` is the
    * per-vector residual — exactly the zip_with subtraction the Spark
    * side encodes. CAST(embedding[i] AS DOUBLE) − centroid[i] is one
    * exact IEEE subtraction in both engines, so residuals agree
    * bit-exactly and everything downstream (codebook training, codes,
    * ADC) inherits the exactness of the raw-vector family.
    */
  private def residualCtes: String =
    s"""rasg AS (
  SELECT vec_id, cell, embedding, centroid FROM (
    SELECT b.vec_id, b.embedding, c.cell, c.centroid,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1
),
rbase AS (
  SELECT vec_id, cell,
         list_transform(generate_series(1, $DIM), i ->
           CAST(embedding[i] AS DOUBLE) - centroid[i]) AS embedding
  FROM rasg
)"""

  /** The residual-encoded composed oracle: coarse Lloyd (optionally on a
    * training slice), full-corpus residuals under the trained centroids,
    * per-subspace codebooks trained on RESIDUAL sub-vectors (optionally
    * on a slice), residual codes over the full corpus, and the
    * route-then-ADC probe where the query's LUT is built from its OWN
    * residual (query routing at nProbe=1 IS the query's coarse
    * assignment — `rasg` serves both). `surviving` masks the candidate
    * set for the delete-lifecycle forms.
    */
  /** The residual oracle's shared WITH-body: coarse trainings, residual
    * bases, residual-trained PQ CTEs, and the query LUT.
    */
  private def annIvfPqResidualOracleCtes(kCtes: String, pqTrainSrc: String,
      pqTrainCte: String, k: Int, m: Int): String =
    s"""$kCtes,
$residualCtes,
${pqCtesTrainedOn(pqTrainSrc, pqTrainCte, src = "rbase", k = k, m = m)},
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.cell AS code,
         ${l2sq("q.sub", "c.centroid", DIM / m).duck} AS part
  FROM (SELECT * FROM pqbase WHERE vec_id < $N_QUERIES) q
  JOIN pcent$PQ_ITERS c ON q.m = c.m)"""

  /** The residual ADC-ranked candidate subselect — shared by the plain
    * top-k and the refined oracles. ONE equi-join of the long-form
    * codes (pasg's (vec_id, m, cell) — each candidate's M code rows)
    * against the LUT on (query_id, m, code), pivoted to p0..p{M-1} and
    * summed in fixed left-to-right order, so the doubles match Spark's
    * adcSum bit-exactly. The r14-shaped alternative (M separate
    * self-joins of the lut CTE) explodes in DuckDB's join reorderer at
    * M=16 — 16 inlined lut copies joined on query_id alone are 8^16
    * intermediate rows before the code predicates bite; this shape is
    * linear in candidates × M by construction.
    */
  private def annIvfPqResidualAdcRanked(surviving: String, m: Int): String = {
    val ps = (0 until m)
      .map(i => s"MAX(CASE WHEN l.m = $i THEN l.part END) AS p$i")
      .mkString(",\n           ")
    val adist = (0 until m).map(i => s"p$i").mkString(" + ")
    s"""SELECT query_id, vizinho, $adist AS adist,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY
           $adist ASC, vizinho ASC) AS INTEGER) AS rank
  FROM (
    SELECT r.query_id, f.vec_id AS vizinho,
           $ps
    FROM (SELECT vec_id AS query_id, cell FROM rasg WHERE vec_id < $N_QUERIES) r
    JOIN rasg f ON f.cell = r.cell AND f.vec_id <> r.query_id AND ($surviving)
    JOIN pasg${PQ_ITERS + 1} c ON c.vec_id = f.vec_id
    JOIN lut l ON l.query_id = r.query_id AND l.m = c.m AND l.code = c.cell
    GROUP BY r.query_id, f.vec_id)"""
  }

  private def annIvfPqResidualOracleFrom(kCtes: String, pqTrainSrc: String,
      pqTrainCte: String, surviving: String, k: Int = PQ_K,
      m: Int = PQ_M): String =
    s"""WITH ${annIvfPqResidualOracleCtes(kCtes, pqTrainSrc, pqTrainCte, k, m)}
SELECT query_id, vizinho, adist, rank FROM (
  ${annIvfPqResidualAdcRanked(surviving, m)})
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** Residual shortlist + exact re-rank: the residual ADC candidates
    * ranked to depth `c`, re-scored by exact L2² against the ORIGINAL
    * vectors, final top-k by (exact ASC, id ASC) — the same refine tail
    * as the raw refined oracle.
    */
  private def annIvfPqResidualRefinedOracle: String =
    s"""WITH ${annIvfPqResidualOracleCtes(kmeansCtes, "pqbase", "", PQ_K, PQ_M)},
shortlist AS (
  SELECT query_id, vizinho FROM (
  ${annIvfPqResidualAdcRanked("TRUE", PQ_M)})
  WHERE rank <= $REFINE_C)
SELECT query_id, vizinho, dist, rank FROM (
  SELECT sl.query_id, sl.vizinho,
         ${l2sq("q.embedding", "b.embedding").duck} AS dist,
         CAST(row_number() OVER (PARTITION BY sl.query_id ORDER BY
           ${l2sq("q.embedding", "b.embedding").duck} ASC, sl.vizinho ASC) AS INTEGER) AS rank
  FROM shortlist sl
  JOIN kbase q ON q.vec_id = sl.query_id
  JOIN kbase b ON b.vec_id = sl.vizinho)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** Full-corpus trainings — the fresh residual index (self-contained
    * and index-served forms answer identically).
    */
  private def annIvfPqResidualOracle: String =
    annIvfPqResidualOracleFrom(kmeansCtes, "pqbase", "", "TRUE")

  /** The wide-codebook residual form (K=64 per subspace — 24-bit codes):
    * the code-budget lever the recall measurement shows actually moves
    * the compressed family on this corpus. Same training/encode/probe
    * chain, only the init width changes.
    */
  private def annIvfPqResidualK64Oracle: String =
    annIvfPqResidualOracleFrom(kmeansCtes, "pqbase", "", "TRUE", k = 64)

  /** The fine-split residual form (M=16 subspaces of 4 dims, K=8 —
    * 48-bit codes): per-subspace quantization error scales ~K^(−2/d),
    * so splitting finer moves recall where widening K barely does.
    */
  private def annIvfPqResidualM16Oracle: String =
    annIvfPqResidualOracleFrom(kmeansCtes, "pqbase", "", "TRUE", m = 16)

  /** Build-slice trainings (vec_id % 10 <> 9), full-corpus residual
    * encode + assignment — what residual build+append must be
    * indistinguishable from.
    */
  private def annIvfPqResidualIncrOracle: String =
    annIvfPqResidualOracleFrom(
      kmeansCtesTrainedOn("ktrain",
        "ktrain AS (SELECT * FROM kbase WHERE vec_id % 10 <> 9),\n"),
      "pqtrain",
      "pqtrain AS (SELECT * FROM pqbase WHERE vec_id % 10 <> 9),\n",
      "TRUE")

  /** The residual delete lifecycle: incr trainings (a delete never
    * retrains) and the candidate set minus the gated victims — shared by
    * the tombstone-masked and compacted serves.
    */
  private def annIvfPqResidualDeleteOracle: String =
    annIvfPqResidualOracleFrom(
      kmeansCtesTrainedOn("ktrain",
        "ktrain AS (SELECT * FROM kbase WHERE vec_id % 10 <> 9),\n"),
      "pqtrain",
      "pqtrain AS (SELECT * FROM pqbase WHERE vec_id % 10 <> 9),\n",
      s"NOT (f.vec_id % 5 = 4 AND f.vec_id >= $N_QUERIES)")

  /** One oracle template serves every probe width (rk <= nProbe). */
  private def ivfOracle(nProbe: Int): String =
    s"""WITH exploded AS (
  SELECT label, i, embedding[i] AS x
  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) AS i)
),
cents AS (
  SELECT CAST(label AS INTEGER) AS cell,
         list(CAST(m AS FLOAT) ORDER BY i) AS centroid
  FROM (
    SELECT label, i,
           CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1000000.0) AS m
    FROM exploded GROUP BY label, i)
  GROUP BY label
),
base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INTEGER) AS label,
  embedding, ${normDuck("embedding")} AS nrm FROM embeddings),
routed AS (
  SELECT query_id, q_emb, qnrm, cell FROM (
    SELECT q.vec_id AS query_id, q.embedding AS q_emb, q.nrm AS qnrm, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             ${dot("q.embedding", "c.centroid", DIM).duck} /
               (q.nrm * sqrt(${dot("c.centroid", "c.centroid", DIM).duck})) DESC,
             c.cell) AS rk
    FROM (SELECT * FROM base WHERE vec_id < $N_QUERIES) q CROSS JOIN cents c)
  WHERE rk <= $nProbe
)
SELECT query_id, cell, vizinho, sim, rank FROM (
  SELECT r.query_id, r.cell, b.vec_id AS vizinho,
         ${dot("r.q_emb", "b.embedding", DIM).duck} / (r.qnrm * b.nrm) AS sim,
         CAST(row_number() OVER (PARTITION BY r.query_id ORDER BY
           ${dot("r.q_emb", "b.embedding", DIM).duck} / (r.qnrm * b.nrm) DESC,
           b.vec_id) AS INTEGER) AS rank
  FROM routed r JOIN base b ON r.cell = b.label AND r.query_id <> b.vec_id)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** Shared by the kmeans probe family (self-contained, index-backed,
    * multi-probe): the full train → assign → route(nProbe) → probe
    * lifecycle recomputed from scratch in DuckDB.
    */
  private def kmeansProbeOracle(nProbe: Int): String =
    kmeansProbeOracleFrom(kmeansCtes, nProbe)

  /** The incremental-lifecycle oracle: Lloyd trains on the build slice
    * (vec_id % 10 <> 9 — the corpus as of build time), the serving
    * assignment covers the FULL corpus (build slice + appended
    * arrivals), and the probe is the standard one — exactly what the
    * cell-append must be indistinguishable from.
    */
  private def kmeansIncrProbeOracle: String =
    kmeansProbeOracleFrom(kmeansCtesTrainedOn("ktrain",
      "ktrain AS (SELECT * FROM kbase WHERE vec_id % 10 <> 9),\n"), 1)

  /** incr trainings + the candidate set minus the delete victims. */
  private def kmeansDeleteProbeOracle: String =
    kmeansProbeOracleFrom(kmeansCtesTrainedOn("ktrain",
      "ktrain AS (SELECT * FROM kbase WHERE vec_id % 10 <> 9),\n"), 1,
      s" AND NOT (b.vec_id % 5 = 4 AND b.vec_id >= $N_QUERIES)")

  /** The label-excluded probe oracle: the standard kmeans probe chain
    * plus a label CTE joined onto both candidate and query sides, with
    * same-label candidates dropped before ranking.
    */
  private def hardNegIvfOracle(nProbe: Int): String =
    kmeansProbeOracleFrom(
      kmeansCtes + ",\nlab AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, " +
        "CAST(label AS INTEGER) AS label FROM embeddings)",
      nProbe,
      candJoins = "\n  JOIN lab lb ON lb.vec_id = b.vec_id" +
        "\n  JOIN lab lq ON lq.vec_id = r.query_id AND lb.label <> lq.label")

  private def kmeansProbeOracleFrom(ctes: String, nProbe: Int,
      candJoins: String = ""): String =
    s"""WITH $ctes,
fin AS (
  SELECT vec_id, embedding, cell,
         ${normDuck("embedding")} AS nrm FROM (
    SELECT b.vec_id, b.embedding, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1
),
routed AS (
  SELECT query_id, q_emb, qnrm, cell FROM (
    SELECT q.vec_id AS query_id, q.embedding AS q_emb, q.nrm AS qnrm, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             ${l2sq("q.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rk
    FROM (SELECT * FROM fin WHERE vec_id < $N_QUERIES) q
    CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rk <= $nProbe
)
SELECT query_id, cell, vizinho, sim, rank FROM (
  SELECT r.query_id, b.cell, b.vec_id AS vizinho,
         ${dot("r.q_emb", "b.embedding", DIM).duck} / (r.qnrm * b.nrm) AS sim,
         CAST(row_number() OVER (PARTITION BY r.query_id ORDER BY
           ${dot("r.q_emb", "b.embedding", DIM).duck} / (r.qnrm * b.nrm) DESC,
           b.vec_id) AS INTEGER) AS rank
  FROM routed r JOIN fin b ON r.cell = b.cell AND r.query_id <> b.vec_id$candJoins)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  val oracle: Map[String, String] = Map(
    "q_ann_ivf" -> ivfOracle(1),
    "q_ann_ivf_probe3" -> ivfOracle(3),
    // the index-backed path must reproduce the self-contained computation
    // bit-exactly — same oracle as q_ann_ivf
    "q_ann_ivf_indexed" -> ivfOracle(1),
    // the index-backed kmeans probe must reproduce the self-contained
    // train/assign/probe bit-exactly — same oracle as q_ann_ivf_kmeans
    "q_ann_ivf_kmeans_indexed" -> kmeansProbeOracle(1),
    // build-slice training + full-corpus assignment: the split-arrival
    // index (build + cell-append) must reproduce this bit-exactly
    "q_ann_ivf_kmeans_incr" -> kmeansIncrProbeOracle,
    // the streamed ingest converges to the same appended index
    "q_ann_ivf_kmeans_incr_stream" -> kmeansIncrProbeOracle,
    // deletion answers the one-shot probe over the survivors
    "q_ann_ivf_kmeans_delete" -> kmeansDeleteProbeOracle,
    // streamed deletes converge to the identical survivor set
    "q_ann_ivf_kmeans_delete_stream" -> kmeansDeleteProbeOracle,
    // composed form: both trainings on the build slice, encode+assign
    // over the full corpus
    "q_ann_ivfpq_incr" -> annIvfPqIncrOracle,
    // both delete serves answer the one-shot probe over the survivors
    "q_ann_ivfpq_delete" -> annIvfPqDeleteOracle,
    "q_ann_ivfpq_delete_compact" -> annIvfPqDeleteOracle,
    // the refined probe over survivors: incr trainings, masked shortlist
    "q_ann_ivfpq_refined_delete" -> annIvfPqRefinedDeleteOracle,
    "q_kmeans_cells" ->
      s"""WITH $kmeansCtes
SELECT vec_id, cell, dist FROM (
  SELECT b.vec_id, c.cell,
         ${l2sq("b.embedding", "c.centroid").duck} AS dist,
         row_number() OVER (PARTITION BY b.vec_id ORDER BY
           ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
  FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
WHERE rn = 1 ORDER BY vec_id""",
    // per-cell quota over the same assignment: nearest-to-centroid
    // first, ties to the smaller vec_id — mirrors the bounded top-k
    // aggregator's (score DESC, id ASC) order exactly; the index-served
    // form recomputes the same distances off the stored assignment, so
    // it gates against the same oracle (mapped right below)
    "q_sample_diverse" -> sampleDiverseOracle,
    "q_sample_diverse_indexed" -> sampleDiverseOracle,
    "q_kmeans_centroids" ->
      s"""WITH $kmeansCtes
SELECT cell, CAST(i AS INTEGER) AS i, centroid[i] AS m
FROM cent$KMEANS_ITERS, (SELECT unnest(generate_series(1, $DIM)) AS i)
ORDER BY cell, i""",
    "q_ann_ivf_kmeans" -> kmeansProbeOracle(1),
    "q_ann_ivf_kmeans_probe2" -> kmeansProbeOracle(2),
    // the label-excluded probe must match the same chain with the
    // exclusion joined in before ranking
    "q_hard_negatives_ivf" -> hardNegIvfOracle(2),
    "q_ann_topk_agg" ->
      s"""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
  ${normDuck("embedding")} AS nrm FROM embeddings),
sims AS (SELECT q.vec_id AS query_id, c.vec_id AS vizinho,
  ${dot("q.embedding", "c.embedding", DIM).duck} / (q.nrm * c.nrm) AS sim
  FROM base q CROSS JOIN base c
  WHERE q.vec_id < $N_QUERIES AND q.vec_id <> c.vec_id)
SELECT query_id, vizinho, sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vizinho) AS INTEGER) AS rank
  FROM sims)
WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    "q_embed_norm" ->
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INTEGER) AS label,
${normDuck("embedding")} AS norma
FROM embeddings ORDER BY vec_id""",
    "q_ann_brute" ->
      s"""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
  ${normDuck("embedding")} AS nrm FROM embeddings),
sims AS (SELECT q.vec_id AS query_id, c.vec_id AS vizinho,
  ${dot("q.embedding", "c.embedding", DIM).duck} / (q.nrm * c.nrm) AS sim
  FROM base q CROSS JOIN base c
  WHERE q.vec_id < $N_QUERIES AND q.vec_id <> c.vec_id)
SELECT query_id, vizinho, sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vizinho) AS INTEGER) AS rank
  FROM sims)
WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    "q_hard_negatives" ->
      s"""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
  CAST(label AS INTEGER) AS label, embedding,
  ${normDuck("embedding")} AS nrm FROM embeddings),
sims AS (SELECT q.vec_id AS query_id, c.vec_id AS vizinho,
  ${dot("q.embedding", "c.embedding", DIM).duck} / (q.nrm * c.nrm) AS sim
  FROM base q CROSS JOIN base c
  WHERE q.vec_id < $N_QUERIES AND c.label <> q.label)
SELECT query_id, vizinho, sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vizinho) AS INTEGER) AS rank
  FROM sims)
WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    "q_ann_lsh_buckets" ->
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INTEGER) AS label,
${lshBucket("embedding", 8, DIM).duck} AS bucket
FROM embeddings ORDER BY vec_id""",
    // near-dup re-blocked on the TRAINED quantizer cell: the oracle
    // re-runs the full Lloyd training + final assignment, then pairs
    // within cells — must agree bit-exactly with the Spark lifecycle
    "q_embed_neardup" -> nearDupOracle,
    // the index-backed serving path must reproduce the self-contained
    // computation bit-exactly — same oracle as q_embed_neardup
    "q_embed_neardup_indexed" -> nearDupOracle,
    "q_semdedup" -> semDedupOracle,
    // all four PQ codebooks re-trained from scratch in DuckDB; the 4-code
    // compressed corpus must match exactly
    "q_pq_codes" -> pqCodesOracle,
    // ADC probe: same LUT, same fixed-order 4-part sum, same (dist ASC,
    // vec ASC) ranking — approximate distances gate bit-exactly
    "q_ann_pq" -> annPqOracle,
    // the index-backed ADC probe must reproduce the self-contained
    // computation bit-exactly — same oracle as q_ann_pq
    "q_ann_pq_indexed" -> annPqOracle,
    // the composed coarse-route + in-cell ADC probe, both trainings
    // recomputed from scratch
    "q_ann_ivfpq" -> annIvfPqOracle,
    // the composed-index serving path must reproduce the self-contained
    // two-stage train + probe bit-exactly — same oracle as q_ann_ivfpq
    "q_ann_ivfpq_indexed" -> annIvfPqOracle,
    // shortlist ADC rank <= REFINE_C, exact L2^2 re-rank, top-k
    "q_ann_ivfpq_refined" -> annIvfPqRefinedOracle,
    "q_ann_ivfpq_refined_indexed" -> annIvfPqRefinedOracle,
    // residual-encoded family: the oracle re-derives the coarse Lloyd,
    // the per-vector residual subtraction, the residual-trained
    // codebooks, the residual codes, and the residual-LUT ADC probe
    "q_ann_ivfpq_residual" -> annIvfPqResidualOracle,
    // same chain at K=64 — only the codebook init width differs
    "q_ann_ivfpq_residual_k64" -> annIvfPqResidualK64Oracle,
    // same chain at M=16 — only the subspace split differs
    "q_ann_ivfpq_residual_m16" -> annIvfPqResidualM16Oracle,
    // residual ADC shortlist, exact re-rank tail
    "q_ann_ivfpq_residual_refined" -> annIvfPqResidualRefinedOracle,
    // raw refined chain at shortlist depth 80
    "q_ann_ivfpq_refined_c80" -> annIvfPqRefinedC80Oracle,
    // the persisted-index serve must be bit-identical — same oracle
    "q_ann_ivfpq_residual_indexed" -> annIvfPqResidualOracle,
    // build-slice trainings, full-corpus residual encode + assignment
    "q_ann_ivfpq_residual_incr" -> annIvfPqResidualIncrOracle,
    // both delete serves answer the one-shot probe over the survivors
    "q_ann_ivfpq_residual_delete" -> annIvfPqResidualDeleteOracle,
    "q_ann_ivfpq_residual_delete_compact" -> annIvfPqResidualDeleteOracle,
    // SQ8: the oracle re-derives the per-dim min/max training, the
    // uniform codes, the bin-center reconstructions, and the asymmetric
    // L2² probe — all through the same paired expression templates
    "q_sq8_minmax" -> sq8MinMaxOracle,
    "q_sq8_codes" -> sq8CodesOracle,
    "q_ann_sq8" -> annSq8Oracle,
    "q_ann_sq8_refined" -> annSq8RefinedOracle,
    // the persisted-index serve must be bit-identical — same oracle
    "q_ann_sq8_indexed" -> annSq8Oracle,
    // build-slice training, full-corpus encode under the stored min/max
    "q_ann_sq8_incr" -> annSq8IncrOracle,
    // the micro-batched arrivals converge to the batch append exactly
    "q_ann_sq8_incr_stream" -> annSq8IncrOracle,
    // slice-trained lifecycle, probe over the tombstone survivors
    "q_ann_sq8_delete" -> annSq8DeleteOracle,
    "q_ann_sq8_retrain" -> annSq8RetrainOracle,
    "q_ann_sq8_retrain_stream" -> annSq8RetrainStreamOracle,
    // both trainings + assignment + routing + in-cell recon ranking
    "q_ann_ivfsq8" -> annIvfSq8Oracle,
    // the partition-pruned serve must be bit-identical — same oracle
    "q_ann_ivfsq8_indexed" -> annIvfSq8Oracle,
    // cell-pruned shortlist, exact re-rank tail
    "q_ann_ivfsq8_refined" -> annIvfSq8RefinedOracle,
    // two routed cells per query, same ranked-candidate subselect
    "q_ann_ivfsq8_probe2" -> annIvfSq8Probe2Oracle,
    "q_ann_ivfsq8_cell" -> annIvfSq8CellOracle,
    "q_ann_ivfsq8_cell_indexed" -> annIvfSq8CellOracle,
    "q_ann_ivfsq8_cell_incr" -> annIvfSq8CellIncrOracle,
    // graph ANN: DuckDB re-derives the Lloyd training, the per-cell kNN
    // adjacency, the entry points, and the H-hop beam walk (unrolled,
    // like every trained oracle in this file) — bit-exact
    "q_ann_graph" -> graphOracle,
    // routed against the stored centroids with identical tie-breaks, so
    // the partition-pruned serve gates against the same oracle
    "q_ann_graph_indexed" -> graphOracle,
    // centroid-layer routing: the greedy descent over the centroid kNN
    // graph unrolls as CTEs exactly like the vector walk
    "q_ann_graph_routed" -> graphRoutedOracle,
    // same template, edge universe widened to adjacent-cell pairs
    "q_ann_graph_xcell" -> graphXcellOracle,
    // the persisted serves must be bit-identical — same oracles
    "q_ann_graph_routed_indexed" -> graphRoutedOracle,
    "q_ann_graph_xcell_indexed" -> graphXcellOracle,
    // seam-free appends: oracle = fresh build under slice-trained
    // centroids (the graph-incr convention)
    "q_ann_graph_routed_incr" ->
      graphRoutedOracleFrom(graphIncrKCtes, xcell = false),
    "q_ann_graph_routed_incr_stream" ->
      graphRoutedOracleFrom(graphIncrKCtes, xcell = false),
    "q_ann_graph_xcell_incr" ->
      graphRoutedOracleFrom(graphIncrKCtes, xcell = true),
    "q_ann_graph_xcell_incr_stream" ->
      graphRoutedOracleFrom(graphIncrKCtes, xcell = true),
    // full-membership edges, endpoint-masked; survivors everywhere else
    "q_ann_graph_xcell_delete" ->
      graphRoutedOracleFrom(graphIncrKCtes, xcell = true,
        surviving = graphSurvWhere, edgesOverSurvivors = false),
    // adjacency re-derived over survivors (the re-linked state)
    "q_ann_graph_xcell_delete_compact" ->
      graphRoutedOracleFrom(graphIncrKCtes, xcell = true,
        surviving = graphSurvWhere, edgesOverSurvivors = true),
    // compressed-guided walk + exact re-rank, both trainings re-derived
    "q_ann_graph_sq8" -> graphSq8Oracle,
    // the seam-free append: oracle = full fresh build, slice-trained
    "q_ann_graph_incr" -> graphOracleFrom(graphIncrKCtes, "TRUE", false),
    "q_ann_graph_incr_stream" ->
      graphOracleFrom(graphIncrKCtes, "TRUE", false),
    // masked walk over the hole-y graph: full-membership kNN edges,
    // endpoint-masked; candidates/entries/queries from the survivors
    "q_ann_graph_delete" ->
      graphOracleFrom(graphIncrKCtes, graphSurvWhere, false),
    "q_ann_graph_delete_stream" ->
      graphOracleFrom(graphIncrKCtes, graphSurvWhere, false),
    // compacted: adjacency re-derived over survivors (re-linked holes)
    "q_ann_graph_delete_compact" ->
      graphOracleFrom(graphIncrKCtes, graphSurvWhere, true))

  /** The graph-ANN oracle: full re-derivation in SQL. `fin` is the
    * trained serving assignment (with norms); `edges` the per-cell kNN
    * adjacency under the gated out-degree R (ties sim DESC, dst ASC);
    * `entries` each cell's centroid-nearest vector; the walk unrolls as
    * H (beam, union) CTE pairs — UNION's set semantics is exactly the
    * serve loop's anti-join dedupe — and the answer is the top-k of the
    * final visited set, self excluded.
    */
  private def graphOracle: String = graphOracleFrom(kmeansCtes, "TRUE", false)

  /** The routed-graph oracle: identical fin/edges/entries/walk CTEs to
    * the fresh graph oracle, with v0 seeded from the PC cells the
    * centroid-layer descent probes — the descent itself (entry cell by
    * population, centroid kNN edges, BC-beam HC-hop greedy walk by
    * exact L2, UNION-deduped) unrolled just like the vector walk.
    */
  private def graphRoutedOracle: String =
    graphRoutedOracleFrom(kmeansCtes, xcell = false)

  /** The xcell oracle: same template, edge universe widened to
    * own-plus-centroid-adjacent cell pairs (the cpair CTE).
    */
  private def graphXcellOracle: String =
    graphRoutedOracleFrom(kmeansCtes, xcell = true)

  /** `surviving` filters the candidate/entry/query universe (TRUE for
    * fresh/incr); `edgesOverSurvivors` picks the adjacency universe —
    * false = kNN over FULL membership then endpoint-masked (the hole-y
    * post-delete state), true = re-derived over survivors (compacted).
    * The same one-template-covers-all-states device as
    * [[graphOracleFrom]].
    */
  private def graphRoutedOracleFrom(kCtes: String, xcell: Boolean,
      surviving: String = "TRUE",
      edgesOverSurvivors: Boolean = false): String = {
    val simAB = s"${dot("a.embedding", "b.embedding", DIM).duck} / (a.nrm * b.nrm)"
    val simQ = s"${dot("q.q_emb", "f.embedding", DIM).duck} / (q.qnrm * f.nrm)"
    val distQC = l2sq("q.q_emb", "c.centroid").duck
    val cc = s"cent$KMEANS_ITERS"
    val eb = if (edgesOverSurvivors) "surv" else "fin"
    val edgeFrom =
      if (xcell)
        s"$eb a JOIN cpair p ON a.cell = p.a_cell " +
          s"JOIN $eb b ON b.cell = p.b_cell AND a.vec_id <> b.vec_id"
      else s"$eb a JOIN $eb b ON a.cell = b.cell AND a.vec_id <> b.vec_id"
    val edgeClose =
      if (xcell)
        "SELECT src, dst FROM vknn UNION SELECT dst AS src, src AS dst FROM vknn"
      else "SELECT src, dst FROM vknn"
    val routeHops = (1 to CGRAPH_H).map { h =>
      s"""cb${h - 1} AS MATERIALIZED (
  SELECT query_id, cell FROM (
    SELECT v.query_id, v.cell,
           row_number() OVER (PARTITION BY v.query_id ORDER BY $distQC ASC, v.cell ASC) AS rk
    FROM c${h - 1} v JOIN $cc c ON v.cell = c.cell
    JOIN qset q ON v.query_id = q.query_id)
  WHERE rk <= $CGRAPH_B
),
c$h AS MATERIALIZED (
  SELECT query_id, cell FROM c${h - 1}
  UNION
  SELECT b.query_id, e.dst AS cell FROM cb${h - 1} b JOIN cedges e ON b.cell = e.src
)"""
    }.mkString(",\n")
    val hops = (1 to GRAPH_H).map { h =>
      s"""b${h - 1} AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT v.query_id, v.vec_id,
           row_number() OVER (PARTITION BY v.query_id ORDER BY $simQ DESC, v.vec_id ASC) AS rk
    FROM v${h - 1} v JOIN surv f ON v.vec_id = f.vec_id
    JOIN qset q ON v.query_id = q.query_id)
  WHERE rk <= $GRAPH_B
),
v$h AS MATERIALIZED (
  SELECT query_id, vec_id FROM v${h - 1}
  UNION
  SELECT b.query_id, e.dst AS vec_id FROM b${h - 1} b JOIN edges e ON b.vec_id = e.src
)"""
    }.mkString(",\n")
    s"""WITH $kCtes,
fin AS MATERIALIZED (
  SELECT vec_id, embedding, cell,
         ${normDuck("embedding")} AS nrm FROM (
    SELECT b.vec_id, b.embedding, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN $cc c)
  WHERE rn = 1
),
surv AS MATERIALIZED (SELECT * FROM fin WHERE $surviving),
cknn AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.cell AS src, b.cell AS dst,
           row_number() OVER (PARTITION BY a.cell ORDER BY
             ${l2sq("a.centroid", "b.centroid").duck} ASC, b.cell ASC) AS rk
    FROM $cc a JOIN $cc b ON a.cell <> b.cell)
  WHERE rk <= $CGRAPH_R
),
cedges AS MATERIALIZED (
  SELECT src, dst FROM cknn
  UNION
  SELECT dst AS src, src AS dst FROM cknn
),
cpair AS MATERIALIZED (
  SELECT src AS a_cell, dst AS b_cell FROM cedges
  UNION
  SELECT cell AS a_cell, cell AS b_cell FROM $cc
),
vknn AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY s DESC, dst ASC) AS rk
    FROM (SELECT a.vec_id AS src, b.vec_id AS dst, $simAB AS s
          FROM $edgeFrom))
  WHERE rk <= $GRAPH_R
),
edges AS MATERIALIZED (
  SELECT e.src, e.dst FROM ($edgeClose) e
  JOIN surv sa ON e.src = sa.vec_id
  JOIN surv sb ON e.dst = sb.vec_id
),
entries AS MATERIALIZED (
  SELECT cell, vec_id FROM (
    SELECT f.cell, f.vec_id,
           row_number() OVER (PARTITION BY f.cell ORDER BY
             ${l2sq("f.embedding", "c.centroid").duck} ASC, f.vec_id ASC) AS rk
    FROM surv f JOIN $cc c ON f.cell = c.cell)
  WHERE rk = 1
),
ecell AS MATERIALIZED (
  SELECT cell FROM (SELECT cell, count(*) AS n FROM surv GROUP BY cell)
  ORDER BY n DESC, cell ASC LIMIT 1
),
qset AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS qnrm
  FROM surv WHERE vec_id < $N_QUERIES
),
c0 AS MATERIALIZED (
  SELECT q.query_id, e.cell FROM qset q CROSS JOIN ecell e
),
$routeHops,
probed AS MATERIALIZED (
  SELECT query_id, cell FROM (
    SELECT v.query_id, v.cell,
           row_number() OVER (PARTITION BY v.query_id ORDER BY $distQC ASC, v.cell ASC) AS rk
    FROM c$CGRAPH_H v JOIN $cc c ON v.cell = c.cell
    JOIN qset q ON v.query_id = q.query_id)
  WHERE rk <= $CGRAPH_P
),
v0 AS MATERIALIZED (
  SELECT DISTINCT p.query_id, e.vec_id FROM probed p JOIN entries e ON p.cell = e.cell
),
$hops
SELECT query_id, vizinho, sim, rank FROM (
  SELECT v.query_id, v.vec_id AS vizinho, $simQ AS sim,
         CAST(row_number() OVER (PARTITION BY v.query_id ORDER BY $simQ DESC, v.vec_id ASC) AS INTEGER) AS rank
  FROM v$GRAPH_H v JOIN surv f ON v.vec_id = f.vec_id
  JOIN qset q ON v.query_id = q.query_id
  WHERE v.query_id <> v.vec_id)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""
  }

  /** The DiskANN-composition oracle: the SAME graph structure CTEs, but
    * every BEAM decision ranks by the SQ8 bin-center reconstruction's
    * L2² (the compressed metric the walk actually uses) and only the
    * final answer ranks by exact cosine — both trainings re-derived.
    */
  private def graphSq8Oracle: String = {
    val simAB = s"${dot("a.embedding", "b.embedding", DIM).duck} / (a.nrm * b.nrm)"
    val simQ = s"${dot("q.q_emb", "f.embedding", DIM).duck} / (q.qnrm * f.nrm)"
    val distQ = l2sq("q.q_emb", "r.recon").duck
    val hops = (1 to GRAPH_H).map { h =>
      s"""b${h - 1} AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT v.query_id, v.vec_id,
           row_number() OVER (PARTITION BY v.query_id ORDER BY $distQ ASC, v.vec_id ASC) AS rk
    FROM v${h - 1} v JOIN sqrecon r ON v.vec_id = r.vec_id
    JOIN qset q ON v.query_id = q.query_id)
  WHERE rk <= $GRAPH_B
),
v$h AS MATERIALIZED (
  SELECT query_id, vec_id FROM v${h - 1}
  UNION
  SELECT b.query_id, e.dst AS vec_id FROM b${h - 1} b JOIN edges e ON b.vec_id = e.src
)"""
    }.mkString(",\n")
    s"""WITH $kmeansCtes,
${sq8Ctes("")},
fin AS MATERIALIZED (
  SELECT vec_id, embedding, cell,
         ${normDuck("embedding")} AS nrm FROM (
    SELECT b.vec_id, b.embedding, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1
),
edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY $simAB DESC, b.vec_id ASC) AS rk
    FROM fin a JOIN fin b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
  WHERE rk <= $GRAPH_R
),
entries AS MATERIALIZED (
  SELECT cell, vec_id FROM (
    SELECT f.cell, f.vec_id,
           row_number() OVER (PARTITION BY f.cell ORDER BY
             ${l2sq("f.embedding", "c.centroid").duck} ASC, f.vec_id ASC) AS rk
    FROM fin f JOIN cent$KMEANS_ITERS c ON f.cell = c.cell)
  WHERE rk = 1
),
qset AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS qnrm, cell
  FROM fin WHERE vec_id < $N_QUERIES
),
v0 AS MATERIALIZED (
  SELECT q.query_id, e.vec_id FROM qset q JOIN entries e ON q.cell = e.cell
),
$hops
SELECT query_id, vizinho, sim, rank FROM (
  SELECT v.query_id, v.vec_id AS vizinho, $simQ AS sim,
         CAST(row_number() OVER (PARTITION BY v.query_id ORDER BY $simQ DESC, v.vec_id ASC) AS INTEGER) AS rank
  FROM v$GRAPH_H v JOIN fin f ON v.vec_id = f.vec_id
  JOIN qset q ON v.query_id = q.query_id
  WHERE v.query_id <> v.vec_id)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""
  }

  /** Slice-trained Lloyd chain shared by the graph lifecycle oracles. */
  private def graphIncrKCtes: String = kmeansCtesTrainedOn("ktrain",
    "ktrain AS (SELECT * FROM kbase WHERE vec_id % 10 <> 9),\n")

  /** The delete-victim survivor predicate over a fin row alias. */
  private def graphSurvWhere: String =
    s"NOT (vec_id % 5 = 4 AND vec_id >= $N_QUERIES)"

  /** The graph oracle, parameterized for the lifecycle states:
    * `surviving` filters the candidate/entry/query universe (TRUE for
    * fresh/incr); `edgesOverSurvivors` picks the adjacency universe —
    * false = kNN over FULL membership then endpoint-masked (the hole-y
    * post-delete state), true = kNN re-derived over survivors (the
    * compacted state). For surviving = TRUE the endpoint mask is an
    * identity join, so ONE template covers all five gate states.
    */
  private def graphOracleFrom(kCtes: String, surviving: String,
      edgesOverSurvivors: Boolean): String = {
    val simAB = s"${dot("a.embedding", "b.embedding", DIM).duck} / (a.nrm * b.nrm)"
    val simQ = s"${dot("q.q_emb", "f.embedding", DIM).duck} / (q.qnrm * f.nrm)"
    val edgeBase = if (edgesOverSurvivors) "surv" else "fin"
    val hops = (1 to GRAPH_H).map { h =>
      s"""b${h - 1} AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT v.query_id, v.vec_id,
           row_number() OVER (PARTITION BY v.query_id ORDER BY $simQ DESC, v.vec_id ASC) AS rk
    FROM v${h - 1} v JOIN surv f ON v.vec_id = f.vec_id
    JOIN qset q ON v.query_id = q.query_id)
  WHERE rk <= $GRAPH_B
),
v$h AS MATERIALIZED (
  SELECT query_id, vec_id FROM v${h - 1}
  UNION
  SELECT b.query_id, e.dst AS vec_id FROM b${h - 1} b JOIN edges e ON b.vec_id = e.src
)"""
    }.mkString(",\n")
    s"""WITH $kCtes,
fin AS MATERIALIZED (
  SELECT vec_id, embedding, cell,
         ${normDuck("embedding")} AS nrm FROM (
    SELECT b.vec_id, b.embedding, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1
),
surv AS MATERIALIZED (SELECT * FROM fin WHERE $surviving),
edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT e.src, e.dst FROM (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY $simAB DESC, b.vec_id ASC) AS rk
        FROM $edgeBase a JOIN $edgeBase b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
      WHERE rk <= $GRAPH_R) e
    JOIN surv sa ON e.src = sa.vec_id
    JOIN surv sb ON e.dst = sb.vec_id)
),
entries AS MATERIALIZED (
  SELECT cell, vec_id FROM (
    SELECT f.cell, f.vec_id,
           row_number() OVER (PARTITION BY f.cell ORDER BY
             ${l2sq("f.embedding", "c.centroid").duck} ASC, f.vec_id ASC) AS rk
    FROM surv f JOIN cent$KMEANS_ITERS c ON f.cell = c.cell)
  WHERE rk = 1
),
qset AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS qnrm, cell
  FROM surv WHERE vec_id < $N_QUERIES
),
v0 AS MATERIALIZED (
  SELECT q.query_id, e.vec_id FROM qset q JOIN entries e ON q.cell = e.cell
),
$hops
SELECT query_id, vizinho, sim, rank FROM (
  SELECT v.query_id, v.vec_id AS vizinho, $simQ AS sim,
         CAST(row_number() OVER (PARTITION BY v.query_id ORDER BY $simQ DESC, v.vec_id ASC) AS INTEGER) AS rank
  FROM v$GRAPH_H v JOIN surv f ON v.vec_id = f.vec_id
  JOIN qset q ON v.query_id = q.query_id
  WHERE v.query_id <> v.vec_id)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""
  }

  /** Shared SQ8 oracle CTE chain: min/max training (optionally over a
    * slice), uniform codes, bin-center reconstructions — the DuckDB
    * re-derivation of everything [[buildSq8IndexOn]] persists.
    */
  /** The drift-gate base in SQL: arrivals translated +2 (exact-in-double
    * float add, so both engines round to the same float) — the DuckDB
    * twin of [[sq8DriftBase]].
    */
  private def sq8DriftBaseCte: String =
    s"""sqbase AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
  CASE WHEN vec_id % 10 = 9
    THEN list_transform(embedding, x -> CAST(x::DOUBLE + 2.0 AS FLOAT))
    ELSE embedding END AS embedding
  FROM embeddings)"""

  private def sq8Ctes(trainWhere: String,
      baseCte: String = s"""sqbase AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding
  FROM embeddings)"""): String =
    s"""$baseCte,
sqdims AS (SELECT i, min(embedding[i]::DOUBLE) AS mn,
    max(embedding[i]::DOUBLE) AS mx
  FROM (SELECT * FROM sqbase $trainWhere), range(1, ${DIM + 1}) t(i)
  GROUP BY i),
sqmm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
  FROM sqdims),
sqcodes AS (SELECT vec_id,
  ${sq8CodeX("embedding", "mns", "mxs").duck} AS codes FROM sqbase, sqmm),
sqrecon AS (SELECT vec_id,
  ${sq8ReconX("codes", "mns", "mxs").duck} AS recon FROM sqcodes, sqmm)"""

  private def sq8MinMaxOracle: String =
    s"""WITH ${sq8Ctes("")}
SELECT CAST(i - 1 AS INTEGER) AS i, mn, mx FROM sqdims ORDER BY i"""

  private def sq8CodesOracle: String =
    s"""WITH ${sq8Ctes("")}
SELECT vec_id, array_to_string(codes, ',') AS codes_str
FROM sqcodes ORDER BY vec_id"""

  /** The ADC-style ranked subselect shared by the plain, incremental,
    * delete, and refined SQ8 oracles.
    */
  private def sq8RankedSims(surviving: String): String =
    s"""SELECT query_id, vizinho, adist,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY adist ASC, vizinho ASC) AS INTEGER) AS rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vizinho,
    ${l2sq("q.embedding", "c.recon").duck} AS adist
  FROM (SELECT * FROM sqbase WHERE vec_id < $N_QUERIES) q, sqrecon c
  WHERE q.vec_id <> c.vec_id AND ($surviving))"""

  private def annSq8OracleFrom(trainWhere: String,
      surviving: String): String =
    s"""WITH ${sq8Ctes(trainWhere)}
SELECT query_id, vizinho, adist, rank FROM (
${sq8RankedSims(surviving)})
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  private def annSq8Oracle: String = annSq8OracleFrom("", "TRUE")

  private def annSq8IncrOracle: String =
    annSq8OracleFrom("WHERE vec_id % 10 <> 9", "TRUE")

  /** Retrain-on-drift oracle: the MODIFIED corpus (arrivals shifted 3×),
    * min/max re-derived over ALL of it — what the store must serve after
    * the clamp monitor fires and the retrain re-encodes. A serve off the
    * stale slice training cannot match this.
    */
  /** The STREAMED retrain oracle: the monitor fires on the FIRST
    * shifted micro-batch (clamp ≈ 1.0), the in-stream retrain trains on
    * everything indexed so far (build slice + batch 0 — the even-decade
    * arrivals), and batch 1 then encodes IN-RANGE under the new
    * training (its clamp rate falls to the in-distribution edge level,
    * below the trigger) — so the final training the oracle must
    * re-derive is slice + batch 0, NOT the full corpus. A second firing
    * (or a missed first one) trains on a different slice and
    * hash-fails.
    */
  private def annSq8RetrainStreamOracle: String =
    s"""WITH ${sq8Ctes(
      "WHERE vec_id % 10 <> 9 OR (vec_id // 10) % 2 = 0", sq8DriftBaseCte)}
SELECT query_id, vizinho, adist, rank FROM (
${sq8RankedSims("TRUE")})
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  private def annSq8RetrainOracle: String =
    s"""WITH ${sq8Ctes("", sq8DriftBaseCte)}
SELECT query_id, vizinho, adist, rank FROM (
${sq8RankedSims("TRUE")})
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  private def annSq8DeleteOracle: String =
    annSq8OracleFrom("WHERE vec_id % 10 <> 9",
      s"NOT (c.vec_id % 5 = 4 AND c.vec_id >= $N_QUERIES)")

  /** IVF·SQ8 oracle: Lloyd + min/max both re-derived, corpus assignment
    * and query routing under the trained centroids (nProbe=1, the
    * (dist, cell) tie-break), then the in-cell reconstruction ranking.
    */
  private def ivfSq8OracleCtes(nProbe: Int = 1): String =
    s"""$kmeansCtes,
${sq8Ctes("")},
ivfin AS (
  SELECT vec_id, cell FROM (
    SELECT b.vec_id, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1
),
ivrouted AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             ${l2sq("q.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rk
    FROM (SELECT * FROM kbase WHERE vec_id < $N_QUERIES) q
    CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rk <= $nProbe
)"""

  /** The composed probe's ranked candidate subselect, shared by the
    * plain and refined IVF·SQ8 oracles.
    */
  private def ivfSq8RankedSims: String =
    s"""SELECT r.query_id, c.vec_id AS vizinho,
         ${l2sq("q.embedding", "c.recon").duck} AS adist,
         CAST(row_number() OVER (PARTITION BY r.query_id ORDER BY
           ${l2sq("q.embedding", "c.recon").duck} ASC, c.vec_id ASC) AS INTEGER) AS rank
  FROM sqrecon c
  JOIN ivfin a ON a.vec_id = c.vec_id
  JOIN ivrouted r ON r.cell = a.cell
  JOIN sqbase q ON q.vec_id = r.query_id
  WHERE r.query_id <> c.vec_id"""

  /** Per-cell min/max oracle: the (cell, dim)-keyed training, encode,
    * reconstruction, and routed ranking all re-derived — the per-cell
    * twin of the global-row chain.
    */
  private def annIvfSq8CellOracle: String =
    annIvfSq8CellOracleFrom(kmeansCtes, "")

  /** Slice-trained per-cell rows, full-corpus serving encode — what the
    * cell-append must be indistinguishable from.
    */
  private def annIvfSq8CellIncrOracle: String =
    annIvfSq8CellOracleFrom(graphIncrKCtes, "WHERE vec_id % 10 <> 9")

  private def annIvfSq8CellOracleFrom(kCtes: String,
      trainWhere: String): String =
    s"""WITH $kCtes,
ivfin AS MATERIALIZED (
  SELECT vec_id, embedding, cell FROM (
    SELECT b.vec_id, b.embedding, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1),
cellmm AS MATERIALIZED (
  SELECT cell, list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM (
    SELECT cell, i, min(embedding[i]::DOUBLE) AS mn,
           max(embedding[i]::DOUBLE) AS mx
    FROM (SELECT * FROM ivfin $trainWhere), range(1, ${DIM + 1}) t(i)
    GROUP BY cell, i)
  GROUP BY cell),
sqcellcodes AS MATERIALIZED (SELECT f.vec_id, f.cell,
  ${sq8CodeX("f.embedding", "m.mns", "m.mxs").duck} AS codes
  FROM ivfin f JOIN cellmm m USING (cell)),
sqcellrecon AS MATERIALIZED (SELECT c.vec_id, c.cell,
  ${sq8ReconX("c.codes", "m.mns", "m.mxs").duck} AS recon
  FROM sqcellcodes c JOIN cellmm m USING (cell)),
ivrouted AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             ${l2sq("q.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rk
    FROM (SELECT * FROM kbase WHERE vec_id < $N_QUERIES) q
    CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rk <= 1)
SELECT query_id, vizinho, adist, rank FROM (
  SELECT r.query_id, c.vec_id AS vizinho,
         ${l2sq("q.embedding", "c.recon").duck} AS adist,
         CAST(row_number() OVER (PARTITION BY r.query_id ORDER BY
           ${l2sq("q.embedding", "c.recon").duck} ASC, c.vec_id ASC) AS INTEGER) AS rank
  FROM sqcellrecon c
  JOIN ivrouted r ON r.cell = c.cell
  JOIN kbase q ON q.vec_id = r.query_id
  WHERE r.query_id <> c.vec_id)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  private def annIvfSq8Oracle: String = annIvfSq8OracleProbe(1)

  private def annIvfSq8Probe2Oracle: String = annIvfSq8OracleProbe(2)

  private def annIvfSq8OracleProbe(nProbe: Int): String =
    s"""WITH ${ivfSq8OracleCtes(nProbe)}
SELECT query_id, vizinho, adist, rank FROM (
  $ivfSq8RankedSims)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  private def annIvfSq8RefinedOracle: String =
    s"""WITH ${ivfSq8OracleCtes()},
shortlist AS (SELECT query_id, vizinho FROM (
  $ivfSq8RankedSims)
  WHERE rank <= $REFINE_C)
SELECT query_id, vizinho, dist, rank FROM (
  SELECT sl.query_id, sl.vizinho,
         ${l2sq("q.embedding", "b.embedding").duck} AS dist,
         CAST(row_number() OVER (PARTITION BY sl.query_id ORDER BY
           ${l2sq("q.embedding", "b.embedding").duck} ASC, sl.vizinho ASC) AS INTEGER) AS rank
  FROM shortlist sl
  JOIN sqbase q ON q.vec_id = sl.query_id
  JOIN sqbase b ON b.vec_id = sl.vizinho)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  private def annSq8RefinedOracle: String =
    s"""WITH ${sq8Ctes("")},
shortlist AS (SELECT query_id, vizinho FROM (
${sq8RankedSims("TRUE")})
  WHERE rank <= $REFINE_C)
SELECT query_id, vizinho, dist, rank FROM (
  SELECT sl.query_id, sl.vizinho,
         ${l2sq("q.embedding", "b.embedding").duck} AS dist,
         CAST(row_number() OVER (PARTITION BY sl.query_id ORDER BY
           ${l2sq("q.embedding", "b.embedding").duck} ASC, sl.vizinho ASC) AS INTEGER) AS rank
  FROM shortlist sl
  JOIN sqbase q ON q.vec_id = sl.query_id
  JOIN sqbase b ON b.vec_id = sl.vizinho)
WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** Shared CTE chain: Lloyd training → final assignment → cell-blocked
    * cosine pairs ≥ 0.4 (`pares`) — one source for the near-dup oracle and
    * the SemDeDup oracle built on those pairs.
    */
  private def nearDupCtes: String =
    s"""$kmeansCtes,
fin AS (
  SELECT vec_id, embedding, cell,
         ${normDuck("embedding")} AS nrm FROM (
    SELECT b.vec_id, b.embedding, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             ${l2sq("b.embedding", "c.centroid").duck} ASC, c.cell ASC) AS rn
    FROM kbase b CROSS JOIN cent$KMEANS_ITERS c)
  WHERE rn = 1
),
pares AS (
  SELECT cell, vec_a, vec_b, sim FROM (
    SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
           ${dot("a.embedding", "b.embedding", DIM).duck} / (a.nrm * b.nrm) AS sim
    FROM fin a JOIN fin b ON a.cell = b.cell AND a.vec_id < b.vec_id)
  WHERE sim >= 0.4
)"""

  private def nearDupOracle: String =
    s"WITH $nearDupCtes\nSELECT cell, vec_a, vec_b, sim FROM pares ORDER BY vec_a, vec_b"

  /** SemDeDup oracle: the same pairs, closed into components by a
    * RECURSIVE reachability CTE (an entirely different algorithm from the
    * Spark side's label propagation), then keep-one-per-cluster.
    */
  private def semDedupOracle: String =
    s"""WITH RECURSIVE $nearDupCtes,
edges AS (SELECT vec_a AS a, vec_b AS b FROM pares UNION ALL SELECT vec_b, vec_a FROM pares),
verts AS (SELECT DISTINCT a AS doc FROM edges),
reach(doc, r) AS (
  SELECT doc, doc FROM verts
  UNION
  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a),
labels AS (SELECT doc, MIN(r) AS cluster FROM reach GROUP BY doc)
SELECT CAST(em.vec_id AS BIGINT) AS vec_id,
       CAST(coalesce(ab.n_absorvidos, 0) AS BIGINT) AS n_absorvidos
FROM embeddings em
LEFT JOIN (SELECT cluster, COUNT(*) - 1 AS n_absorvidos
           FROM labels GROUP BY cluster) ab
  ON em.vec_id = ab.cluster
WHERE em.vec_id NOT IN (SELECT doc FROM labels WHERE doc <> cluster)
ORDER BY vec_id"""
}
