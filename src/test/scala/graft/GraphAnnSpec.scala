package graft

import org.apache.spark.sql.functions._
import graft.sim.{EmbeddingOps, RecallBench}

/** Graph ANN — the structural and quality properties the bit-exactness
  * gates cannot see:
  *
  *  1. the adjacency is a well-formed per-cell kNN graph: out-degree is
  *     exactly min(R, |cell|−1), no self-loops, every edge closed within
  *     its quantizer cell (beam search then provably never leaves the
  *     routed partition);
  *  2. the walk's cost contract: the visited set — the number of exact
  *     vector reads the serve pays — respects the 1 + H·B·R construction
  *     bound and stays inside the routed cell;
  *  3. the quality claim that justifies the family: the H-hop beam walk
  *     recovers the routed cell's EXHAUSTIVE top-k (the kmeans nProbe=1
  *     probe) while reading a fraction of the cell;
  *  4. the persisted serve is bit-identical to the self-contained form
  *     and its store reads carry routed-cell PartitionFilters.
  */
class GraphAnnSpec extends SparkSpec {

  private lazy val cellOf: Map[Long, Int] =
    EmbeddingOps.kmeansCells(spark, tiny).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("cell").intValue()).toMap

  test("serve-knob scaling: 0 steps at gated K, +1 per cell doubling") {
    // every gated corpus resolves to K <= 8 → pinned constants, no
    // oracle drift; adaptive-K stores gain one step per doubling
    assert(EmbeddingOps.cgraphSteps(1) == 0)
    assert(EmbeddingOps.cgraphSteps(8) == 0)
    assert(EmbeddingOps.cgraphSteps(9) == 1)
    assert(EmbeddingOps.cgraphSteps(16) == 1)
    assert(EmbeddingOps.cgraphSteps(50) == 3)   // the sf10 store
    assert(EmbeddingOps.cgraphSteps(1024) == 7)
  }

  test("graphR adjacency-degree law: pinned at gate scale, +1 per cell doubling") {
    // at K ≤ 8 every gated corpus builds at the pinned GRAPH_R — no
    // oracle changes; beyond, one extra edge per doubling of cells
    // (the HNSW grow-M-with-corpus economics, sibling of cgraphSteps)
    assert(EmbeddingOps.graphR(1) == EmbeddingOps.GRAPH_R)
    assert(EmbeddingOps.graphR(8) == EmbeddingOps.GRAPH_R)
    assert(EmbeddingOps.graphR(13) == EmbeddingOps.GRAPH_R + 1)  // ~50k staged vectors
    assert(EmbeddingOps.graphR(50) == EmbeddingOps.GRAPH_R + 3)  // ~200k staged vectors
    assert(EmbeddingOps.graphR(500) == EmbeddingOps.GRAPH_R + 6) // ~2M staged vectors
    // (cell counts resolve from adaptiveK over STAGED corpora; the gated
    // /root/testdata dirs are all <= 32k vectors -> 8 cells -> pinned R)
  }

  test("adjacency: exact out-degree, no self-loops, closed within cells") {
    val edges = EmbeddingOps.graphEdges(spark, tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("cell").intValue()))
    assert(edges.nonEmpty, "the graph must have edges")
    assert(edges.forall { case (s, d, _) => s != d }, "no self-loops")
    assert(edges.forall { case (s, d, c) => cellOf(s) == c && cellOf(d) == c },
      "every edge must stay within its quantizer cell")
    val sizes = cellOf.values.groupBy(identity).map { case (c, xs) => c -> xs.size }
    val bySrc = edges.groupBy(_._1)
    // every vector in a multi-vector cell is a node with exactly
    // min(R, |cell|-1) out-edges — nothing silently dropped
    for ((id, c) <- cellOf if sizes(c) > 1) {
      val expect = math.min(EmbeddingOps.GRAPH_R, sizes(c) - 1)
      val got = bySrc.get(id).map(_.length).getOrElse(0)
      assert(got == expect, s"node $id in cell $c (size ${sizes(c)}): " +
        s"out-degree $got, expected $expect")
    }
  }

  test("beam walk: visited bounded by 1 + H*B*R, inside the routed cell") {
    val visited = EmbeddingOps.graphVisited(spark, tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bound = 1 + EmbeddingOps.GRAPH_H * EmbeddingOps.GRAPH_B * EmbeddingOps.GRAPH_R
    val per = visited.groupBy(_._1).map { case (q, xs) => q -> xs.length }
    assert(per.nonEmpty && per.values.forall(_ >= 1))
    for ((q, n) <- per)
      assert(n <= bound, s"query $q visited $n > bound $bound")
    for ((q, v) <- visited)
      assert(cellOf(v) == cellOf(q),
        s"query $q (cell ${cellOf(q)}) visited $v in cell ${cellOf(v)} — " +
          "the walk must never leave the routed cell")
  }

  test("beam walk recovers the routed-exhaustive top-k, reading a fraction") {
    val exhaustive = EmbeddingOps.annIvfKmeans(spark, tiny)
      .select("query_id", "vizinho", "sim", "rank").collect().toSeq
    val graph = EmbeddingOps.annGraph(spark, tiny)
      .select("query_id", "vizinho", "sim", "rank").collect().toSeq
    assert(graph == exhaustive,
      "the H-hop beam walk must recover the routed cell's exhaustive top-k")
    // and pay fewer reads than the exhaustive cell scan for every query
    val reads = EmbeddingOps.graphVisited(spark, tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.length }
    val sizes = cellOf.values.groupBy(identity).map { case (c, xs) => c -> xs.size }
    for ((q, n) <- reads) {
      val cell = sizes(cellOf(q))
      assert(n < cell, s"query $q read $n of a $cell-vector cell — " +
        "the walk must undercut the exhaustive scan")
    }
  }

  test("lifecycle: arrivals linked BOTH ways; delete refreshes entries; compact purges") {
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val arrival = col("vec_id") % 10 === 9
    val dir = Scratch.tempDir("graft_graph_lc").toString
    EmbeddingOps.buildGraphIndexOn(spark, base.filter(!arrival), dir)
    EmbeddingOps.appendGraphIndex(spark, base.filter(arrival), dir, 0L)
    val arrivals = base.filter(arrival).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val vecIds = spark.read.parquet(s"$dir/vectors").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(arrivals.subsetOf(vecIds), "every arrival must be stored")
    // the reachability prerequisite a pure out-edge append would break:
    // arrivals must appear as edge DESTINATIONS (something points at
    // them) as well as sources — the touched-cell rebuild guarantees it
    val e = spark.read.parquet(s"$dir/edges").select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(arrivals.exists(a => e.exists(_._1 == a)),
      "arrivals must have out-edges")
    assert(arrivals.exists(a => e.exists(_._2 == a)),
      "arrivals must be pointed AT — otherwise the walk can never find them")
    // delete: entries must never name a victim (a dead entry orphans
    // its cell's walk)
    val victims = base.filter(EmbeddingOps.DeleteVictims).select("vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    EmbeddingOps.deleteGraphIndex(spark, victims, dir, 1L)
    val entryIds = spark.read.parquet(s"$dir/entries").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(entryIds.intersect(victimIds).isEmpty,
      "delete must refresh entries off the victims")
    // compact: tombstones cleared, no victim row survives physically
    EmbeddingOps.compactGraphIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "compaction must clear the tombstone store")
    val vAfter = spark.read.parquet(s"$dir/vectors").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(vAfter.intersect(victimIds).isEmpty, "no victim vector survives")
    val eAfter = spark.read.parquet(s"$dir/edges").select("src", "dst")
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(eAfter.intersect(victimIds).isEmpty, "no victim edge survives")
  }

  test("centroid routing: layer well-formed, descent bounded, probes = brute top-PC") {
    import org.apache.spark.sql.expressions.Window
    val cents = EmbeddingOps.kmeansCentroids(spark, tiny).cache()
    val nCells = cents.count().toInt
    val cedges = EmbeddingOps.centroidEdgesOf(cents)
    val ce = cedges.collect()
      .map(r => (r.getAs[Number]("src").intValue(), r.getAs[Number]("dst").intValue()))
    assert(ce.forall { case (s, d) => s != d }, "no self-loops")
    assert(ce.toSet == ce.map { case (s, d) => (d, s) }.toSet,
      "the layer must be symmetric (every link bidirectional)")
    val expectDeg = math.min(EmbeddingOps.CGRAPH_R, nCells - 1)
    val bySrc = ce.groupBy(_._1).map { case (s, xs) => s -> xs.length }
    assert(bySrc.size == nCells, "every cell must be a source")
    assert(bySrc.values.forall(_ >= expectDeg),
      s"centroid out-degree must be at least the kNN degree $expectDeg")
    val maxDeg = bySrc.values.max

    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val asg = EmbeddingOps.kmeansCells(spark, tiny)
    // entry = most populous cell, ties to the smaller id
    val pops = asg.groupBy("cell").count().collect()
      .map(r => (r.getAs[Number]("cell").intValue(), r.getLong(1)))
    val expectEntry = pops.minBy { case (c, n) => (-n, c) }._1
    val entry = EmbeddingOps.entryCellOf(asg)
    assert(entry.collect().head.getAs[Number]("cell").intValue() == expectEntry,
      "entry cell must be the most populous (ties smaller id)")

    // descent cost contract: ≤ 1 + HC·BC·maxdeg centroid evaluations
    // per query — the O(deg·BC·HC) routing that replaces the O(cells)
    // flat scan (deg = RC + kNN in-degree after symmetrization)
    val q = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val visited = EmbeddingOps.routeVisitedCells(spark, q, cents, entry, cedges)
      .collect().map(_.getLong(0))
    val bound = 1 +
      EmbeddingOps.CGRAPH_H * EmbeddingOps.CGRAPH_B * maxDeg
    for ((qid, xs) <- visited.groupBy(identity))
      assert(xs.length <= bound, s"query $qid scored ${xs.length} centroids > $bound")

    // routing quality on this corpus: the greedy descent's probe set IS
    // the brute-force top-PC cells for every query (navigability)
    val probes = EmbeddingOps.routeViaCentroidGraph(spark, q, cents, entry, cedges)
      .collect().map(r => (r.getLong(0), r.getAs[Number]("cell").intValue())).toSet
    val brute = q.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.GraftFunctions
        .l2_sq(col("q_emb"), col("centroid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("dist"), asc("cell"))))
      .filter(col("rk") <= EmbeddingOps.CGRAPH_P)
      .select("query_id", "cell").collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cell").intValue())).toSet
    assert(probes == brute,
      "greedy descent must recover the brute-force top-PC probe cells")
  }

  test("xcell edges: cross seams, bounded blocks, recall >= own-cell serve") {
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val cents = EmbeddingOps.kmeansCentroids(spark, tiny)
    val asg = EmbeddingOps.kmeansCells(spark, tiny)
      .join(base, Seq("vec_id"))
      .select("vec_id", "embedding", "cell")
    val cedges = EmbeddingOps.centroidEdgesOf(cents)
    val adj = cedges.collect()
      .map(r => (r.getAs[Number]("src").intValue(), r.getAs[Number]("dst").intValue()))
      .toSet
    val xe = EmbeddingOps.graphEdgesXcellOf(spark, asg, cedges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(xe.nonEmpty)
    assert(xe.forall { case (s, d) => s != d }, "no self-loops")
    // edges may cross seams — and on this corpus some genuinely do
    assert(xe.exists { case (s, d) => cellOf(s) != cellOf(d) },
      "at least one boundary edge must cross cells")
    // but only into centroid-ADJACENT cells: the candidate universe is
    // blocked by the navigable layer, never corpus-wide
    for ((s, d) <- xe if cellOf(s) != cellOf(d))
      assert(adj((cellOf(s), cellOf(d))),
        s"edge $s->$d crosses non-adjacent cells ${cellOf(s)}->${cellOf(d)}")
    // symmetrized (NSW links): closed under reversal, so no vector is
    // an unreachable kNN-digraph orphan; out-degree ≥ the kNN degree
    assert(xe.toSet == xe.map { case (s, d) => (d, s) }.toSet,
      "xcell edges must be symmetric")
    val bySrc = xe.groupBy(_._1).map { case (_, es) => es.length }
    assert(bySrc.forall(_ >= EmbeddingOps.GRAPH_R),
      "xcell out-degree must be at least the kNN degree R")
    // quality: the seam-crossing walk must not lose to the own-cell
    // serve against brute truth
    val truth = RecallBench.bruteOver(spark, base)
    val own = RecallBench.recall(truth, EmbeddingOps.annGraph(spark, tiny))
    val x = RecallBench.recall(truth, EmbeddingOps.annGraphXcell(spark, tiny))
    assert(x >= own, s"xcell recall $x must hold the own-cell serve's $own")
  }

  test("persisted routed/xcell serves: bit-identical to self-contained") {
    val rDir = Scratch.tempDir("graft_graph_routed_spec").toString
    EmbeddingOps.buildGraphRoutedIndex(spark, tiny, rDir)
    assert(EmbeddingOps.annGraphRoutedIndexed(spark, tiny, rDir).collect().toSeq
      == EmbeddingOps.annGraphRouted(spark, tiny).collect().toSeq,
      "persisted routed serve must be bit-identical")
    // the stored layer matches the in-plan derivation
    val storedLayer = spark.read.parquet(s"$rDir/cedges").collect()
      .map(r => (r.getAs[Number]("src").intValue(), r.getAs[Number]("dst").intValue())).toSet
    val derived = EmbeddingOps.centroidEdgesOf(
      EmbeddingOps.kmeansCentroids(spark, tiny)).collect()
      .map(r => (r.getAs[Number]("src").intValue(), r.getAs[Number]("dst").intValue())).toSet
    assert(storedLayer == derived, "stored layer must equal the derivation")

    val xDir = Scratch.tempDir("graft_graph_xcell_spec").toString
    EmbeddingOps.buildGraphXcellIndex(spark, tiny, xDir)
    assert(EmbeddingOps.annGraphXcellIndexed(spark, tiny, xDir).collect().toSeq
      == EmbeddingOps.annGraphXcell(spark, tiny).collect().toSeq,
      "the closure-pruned xcell serve must be bit-identical (exact prune)")
  }

  test("xcell append: one-seam-wider rebuild equals a fresh build") {
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val arrival = col("vec_id") % 10 === 9
    val incDir = Scratch.tempDir("graft_xcell_incr_spec").toString
    EmbeddingOps.buildGraphXcellIndexOn(spark, base.filter(!arrival), incDir)
    val preEdges = spark.read.parquet(s"$incDir/xedges")
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    EmbeddingOps.appendGraphXcellIndex(spark, base.filter(arrival), incDir, 0L)
    val postEdges = spark.read.parquet(s"$incDir/xedges")
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the seam-free invariant, pinned on the WHOLE store (the gate
    // pins only the served top-k): post-append adjacency must equal
    // the fresh derivation over full membership under the stored
    // (slice-trained) centroids
    val asgFull = spark.read.parquet(s"$incDir/vectors")
      .select("vec_id", "embedding", "cell")
    val freshEdges = EmbeddingOps.graphEdgesXcellOf(spark, asgFull,
      spark.read.parquet(s"$incDir/cedges")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postEdges == freshEdges,
      "post-append xcell adjacency must equal the fresh derivation")
    // and the seam is REAL: some pre-existing source's adjacency
    // changed across a cell boundary (a touched-cells-only rebuild
    // would have missed it) — arrivals entered a neighbor's top-R
    val arrivals = base.filter(arrival).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val changedSrcs = (postEdges -- preEdges).map(_._1) -- arrivals
    assert(changedSrcs.nonEmpty,
      "pre-existing sources must have re-linked to arrivals")
  }

  test("persisted serve: bit-identical, store reads partition-pruned") {
    val dir = Scratch.tempDir("graft_graph_spec").toString
    EmbeddingOps.buildGraphIndex(spark, tiny, dir)
    val served = EmbeddingOps.annGraphIndexed(spark, tiny, dir).collect().toSeq
    val self = EmbeddingOps.annGraph(spark, tiny).collect().toSeq
    assert(served == self, "persisted serve must be bit-identical")
    // the exact pruned reads the serve walks over must reach the scan as
    // PartitionFilters (cell is the partition column of both stores)
    val (vecs, edges) = EmbeddingOps.graphPrunedStore(spark, dir, Seq(0, 3))
    for ((df, name) <- Seq((vecs, "vectors"), (edges, "edges"))) {
      df.collect(): Unit
      val scans = allNodes(df.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
        s"$name scan must carry routed-cell PartitionFilters")
    }
  }

  /** 16 clusters on a circle, one k-means seed (vec_id 0..15) per
    * cluster center, so Lloyd converges to one stable cell per cluster
    * and the centroid layer is a RING (adjacency reach ≤ 2 cells) —
    * cells genuinely 3+ hops from any touched cell. This is the regime
    * where an affected-only partition rewrite goes wrong: reverse rows
    * of re-linked sources land one seam beyond `affected`, and sources
    * recomputed over a truncated candidate universe write spurious
    * reverses INTO the rewritten partitions. The sf0.001 corpus cannot
    * catch it (its 8 cells are all mutually within two seams of
    * anything touched). Odd clusters hold only their seed, so an even
    * cell's sources must fill their top-R across the ±2 seams — the
    * cross-seam links whose maintenance the test pins.
    */
  private def ringBase(rows: Seq[(Long, Int, Double)]) = {
    import spark.implicits._
    rows.map { case (id, cluster, jitter) =>
      val theta = 2 * math.Pi * cluster / 16 + jitter
      (id, Seq((10 * math.cos(theta)).toFloat, (10 * math.sin(theta)).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** Seeds 0..15 at the 16 cluster centers; 5 extra points on each EVEN
    * cluster with small deterministic angular jitter (±0.02 rad vs the
    * 0.39 rad cluster spacing — assignments never wander).
    */
  private def ringPts: Seq[(Long, Int, Double)] =
    (0 until 16).map(c => (c.toLong, c, 0.0)) ++
      (16L until 56L).map(id =>
        (id, (2 * ((id - 16) % 8)).toInt, ((id * 37) % 11 - 5) * 0.004))

  /** Four points crowding cell 0's rim (±2°): near enough to the ±2
    * seams that sources two cells away (cells 2 and 14) link to them —
    * adding OR removing them changes adjacency in partitions the r17
    * affected-only rewrite never touched (proven: the r17 emulation
    * fails both ring tests).
    */
  private def rimPts: Seq[(Long, Int, Double)] =
    Seq((100L, 0, 0.035), (101L, 0, 0.025), (102L, 0, -0.030),
      (103L, 0, -0.020))

  private def xedgeSet(dir: String): Set[(Long, Long)] =
    spark.read.parquet(s"$dir/xedges").select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def ringAdj(dir: String): Map[Int, Set[Int]] =
    spark.read.parquet(s"$dir/cedges").collect()
      .map(r => (r.getAs[Number]("src").intValue(),
        r.getAs[Number]("dst").intValue()))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

  test("xcell append on a ring cell-graph: seam-correct beyond adjacent(affected)") {
    val arrivals = rimPts
    val dir = Scratch.tempDir("graft_xcell_ring").toString
    EmbeddingOps.buildGraphXcellIndexOn(spark, ringBase(ringPts), dir, k = 16)
    EmbeddingOps.appendGraphXcellIndex(spark, ringBase(arrivals), dir, 0L)
    // precondition: the scenario exercises the seam — touched ∪
    // adjacent(touched) must NOT cover the ring, else the test is the
    // same vacuous shape as the sf0.001 one
    val adj = ringAdj(dir)
    val touched = spark.read.parquet(s"$dir/vectors")
      .filter(col("batch") === 0L).select("cell").distinct().collect()
      .map(_.getAs[Number]("cell").intValue()).toSet
    val affected = touched ++ touched.flatMap(adj.getOrElse(_, Set.empty[Int]))
    assert((adj.keySet -- affected).nonEmpty,
      s"ring setup broke: affected $affected covers every cell")
    // the invariant itself: post-append whole-store adjacency equals
    // the fresh derivation over full membership under stored centroids
    val asgFull = spark.read.parquet(s"$dir/vectors")
      .select("vec_id", "embedding", "cell")
    // nCells = 16: the fresh derivation must run at the STORE's
    // quantizer scale (adjacency-degree law + compressed-guided path
    // both key on it) — exactly what the maintenance relink derives
    val fresh = EmbeddingOps.graphEdgesXcellOf(spark, asgFull,
      spark.read.parquet(s"$dir/cedges"), 16L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xedgeSet(dir) == fresh,
      "post-append xcell adjacency must equal the fresh derivation " +
        "even on cells 2+ hops from touched")
  }

  test("xcell delete+compact on a ring cell-graph: seam-correct re-link") {
    val dir = Scratch.tempDir("graft_xcell_ring_c").toString
    // build WITH the rim points, then delete exactly them: removal must
    // undo the cross-seam links the append test proves they create —
    // re-picks land in partitions beyond adjacent(affected)
    EmbeddingOps.buildGraphXcellIndexOn(spark, ringBase(ringPts ++ rimPts),
      dir, k = 16)
    val victims = ringBase(rimPts).select("vec_id")
    EmbeddingOps.deleteGraphXcellIndex(spark, victims, dir, 1L)
    EmbeddingOps.compactGraphXcellIndex(spark, dir)
    val adj = ringAdj(dir)
    val affected = Set(0) ++ adj.getOrElse(0, Set.empty[Int])
    assert((adj.keySet -- affected).nonEmpty,
      s"ring setup broke: affected $affected covers every cell")
    val survivors = spark.read.parquet(s"$dir/vectors")
      .select("vec_id", "embedding", "cell")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    assert(survivors.collect().map(_.getLong(0)).toSet
      .intersect(victimIds).isEmpty, "compaction must fold victims")
    val fresh = EmbeddingOps.graphEdgesXcellOf(spark, survivors,
      spark.read.parquet(s"$dir/cedges"), 16L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xedgeSet(dir) == fresh,
      "post-compact xcell adjacency must equal the fresh derivation " +
        "over survivors even on cells 2+ hops from touched")
  }
}
