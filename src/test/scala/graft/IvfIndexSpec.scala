package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.sim.EmbeddingOps

/** The persisted IVF index lifecycle: train once (centroids + corpus
  * partitioned by cell), query many. The index-backed probe must be
  * bit-identical to the self-contained per-invocation form (they share
  * one DuckDB oracle), and the cells scan must prune unprobed partitions.
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val indexDir: String = {
    val dir = Scratch.tempDir("graft_ivf").toString
    EmbeddingOps.buildIvfIndex(spark, tiny, dir)
    dir
  }

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectNodes(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectNodes)
  }

  test("index-backed probe is bit-identical to the self-contained IVF probe") {
    assert(EmbeddingOps.annIvfIndexed(spark, tiny, 1, indexDir).collect() ===
      EmbeddingOps.annIvf(spark, tiny).collect())
    assert(EmbeddingOps.annIvfIndexed(spark, tiny, 3, indexDir).collect() ===
      EmbeddingOps.annIvfProbe(spark, tiny, 3).collect())
  }

  test("probe scan prunes unprobed cell partitions") {
    val df = EmbeddingOps.annIvfIndexed(spark, tiny, 1, indexDir)
    val cellScans = collectNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("cells")) => f
    }
    assert(cellScans.nonEmpty, "expected a scan over the index cells table")
    assert(cellScans.forall(_.partitionFilters.nonEmpty),
      "cells scan must carry PartitionFilters from the probed-cell isin")
  }

  test("kmeans index-backed probe equals the self-contained train/assign/probe") {
    val dir = Scratch.tempDir("graft_ivf_km").toString
    EmbeddingOps.buildIvfIndexKmeans(spark, tiny, dir)
    assert(EmbeddingOps.annIvfKmeansIndexed(spark, tiny, dir).collect() ===
      EmbeddingOps.annIvfKmeans(spark, tiny).collect())
    // fresh plan (pre-execution, before AQE wraps scans in query stages)
    val idx = EmbeddingOps.annIvfKmeansIndexed(spark, tiny, dir)
    val cellScans = collectNodes(idx.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("cells")) => f
    }
    assert(cellScans.nonEmpty && cellScans.forall(_.partitionFilters.nonEmpty),
      "kmeans cells scan must prune unprobed partitions")
  }

  test("near-dup served off the kmeans index equals the self-contained form") {
    val dir = Scratch.tempDir("graft_ivf_nd").toString
    EmbeddingOps.buildIvfIndexKmeans(spark, tiny, dir)
    assert(EmbeddingOps.embedNearDupIndexed(spark, tiny, dir).collect() ===
      EmbeddingOps.embedNearDup(spark, tiny).collect(),
      "index-served pairs must be bit-identical to the in-query-trained pairs")
  }

  test("the auto wrapper builds once and reuses the on-disk index") {
    val first = EmbeddingOps.annIvfIndexedAuto(spark, tiny).collect()
    val again = EmbeddingOps.annIvfIndexedAuto(spark, tiny).collect()
    assert(first === again)
    assert(first.length === 40)
  }

  test("cell-append: split-arrival index serves probes identical to a one-shot full-assignment build") {
    import org.apache.spark.sql.functions.col
    val incrDir = Scratch.tempDir("graft_ivf_incr").toString
    val fullDir = Scratch.tempDir("graft_ivf_full").toString
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val arrival = col("vec_id") % 10 === 9
    // split arrival: build on 9/10, append the rest — no retraining
    EmbeddingOps.buildIvfIndexKmeansOn(spark, base.filter(!arrival),
      base.filter(!arrival), incrDir, "t")
    def parquetListing(dir: String): Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    val histFiles = parquetListing(s"$incrDir/cells")
    val drift = EmbeddingOps.appendIvfIndexKmeans(spark, base.filter(arrival), incrDir, batchId = 0L)
    // one-shot twin: same training slice, full-corpus assignment
    EmbeddingOps.buildIvfIndexKmeansOn(spark, base.filter(!arrival), base,
      fullDir, "t")
    assert(EmbeddingOps.annIvfKmeansIndexed(spark, tiny, incrDir).collect() ===
      EmbeddingOps.annIvfKmeansIndexed(spark, tiny, fullDir).collect(),
      "append must be indistinguishable from indexing the arrivals at build time")
    // the append never rewrote an already-indexed file (O(batch), not O(corpus))
    val after = parquetListing(s"$incrDir/cells")
    histFiles.foreach { f =>
      assert(after.contains(f), s"append rewrote indexed file $f")
    }
    // in-distribution arrivals sit near the training-time mean distance…
    assert(drift > 0.5 && drift < 2.0,
      s"in-distribution drift ratio should be ~1, got $drift")
    // …while out-of-distribution arrivals (vectors scaled 10×) must push
    // the ratio past any sane retrain threshold
    val outliers = base.filter(arrival)
      .selectExpr("vec_id", "transform(embedding, x -> x * 10.0F) AS embedding")
    val drift2 = EmbeddingOps.appendIvfIndexKmeans(spark, outliers, incrDir, batchId = 1L)
    assert(drift2 > 2.0, s"scaled-out arrivals must flag retraining, got $drift2")
  }

  test("composed IVF-PQ cell-append: split arrival equals one-shot full-assignment build") {
    import org.apache.spark.sql.functions.col
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val arrival = col("vec_id") % 10 === 9
    // raw codes, then residual codes (the append re-encodes arrivals'
    // residuals under the stored centroids)
    for (residual <- Seq(false, true)) {
      val incrDir = Scratch.tempDir("graft_ivfpq_incr").toString
      val fullDir = Scratch.tempDir("graft_ivfpq_fullasg").toString
      EmbeddingOps.buildIvfPqIndexOn(spark, base.filter(!arrival),
        base.filter(!arrival), incrDir, residual)
      EmbeddingOps.appendIvfPqIndex(spark, base.filter(arrival), incrDir,
        batchId = 0L, residual)
      EmbeddingOps.buildIvfPqIndexOn(spark, base.filter(!arrival), base, fullDir,
        residual)
      assert(EmbeddingOps.annIvfPqIndexed(spark, tiny, incrDir, residual).collect() ===
        EmbeddingOps.annIvfPqIndexed(spark, tiny, fullDir, residual).collect(),
        s"appended composed index must serve probes identical to a one-shot build (residual=$residual)")
      // and the stored code tables agree row-for-row (compression included)
      // (modulo the ingest-batch partition column, which records WHEN a
      // vector arrived and so legitimately differs between the two builds)
      val a = spark.read.parquet(s"$incrDir/codes").drop("batch").orderBy("vec_id").collect()
      val b = spark.read.parquet(s"$fullDir/codes").drop("batch").orderBy("vec_id").collect()
      assert(a === b, s"residual=$residual")
    }
  }

  test("a replayed append (same batchId) overwrites itself instead of duplicating — exactly-once under redelivery") {
    import org.apache.spark.sql.functions.col
    val dir = Scratch.tempDir("graft_ivf_replay").toString
    val base = Tables.embeddings(spark, tiny)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val arrival = col("vec_id") % 10 === 9
    EmbeddingOps.buildIvfIndexKmeansOn(spark, base.filter(!arrival),
      base.filter(!arrival), dir, "t")
    EmbeddingOps.appendIvfIndexKmeans(spark, base.filter(arrival), dir,
      batchId = 0L): Unit
    val once = spark.read.parquet(s"$dir/cells").count()
    val probeOnce = EmbeddingOps.annIvfKmeansIndexed(spark, tiny, dir).collect()
    // foreachBatch redelivery after a restart: the SAME batch arrives again
    EmbeddingOps.appendIvfIndexKmeans(spark, base.filter(arrival), dir,
      batchId = 0L): Unit
    assert(spark.read.parquet(s"$dir/cells").count() === once,
      "a replayed batch must not grow the index")
    assert(EmbeddingOps.annIvfKmeansIndexed(spark, tiny, dir).collect()
      === probeOnce)
  }

  test("IVF-PQ built from shared km centroids + pq codebooks is byte-identical") {
    val kmDir = Scratch.tempDir("graft_km_share").toString
    val pqDir = Scratch.tempDir("graft_pq_share").toString
    val selfDir = Scratch.tempDir("graft_ivfpq_self").toString
    val sharedDir = Scratch.tempDir("graft_ivfpq_shared").toString
    EmbeddingOps.buildIvfIndexKmeans(spark, tiny, kmDir)
    EmbeddingOps.buildPqIndex(spark, tiny, pqDir)
    EmbeddingOps.buildIvfPqIndex(spark, tiny, selfDir)
    EmbeddingOps.buildIvfPqIndex(spark, tiny, sharedDir, Some(kmDir), Some(pqDir))
    // the reused trainings must change nothing: centroid/codebook tables
    // and served probes agree exactly
    for ((t, keys) <- Seq("centroids" -> Seq("cell"),
        "codebooks" -> Seq("m", "cell"))) {
      val a = spark.read.parquet(s"$selfDir/$t").orderBy(keys.head, keys.tail: _*).collect()
      val b = spark.read.parquet(s"$sharedDir/$t").orderBy(keys.head, keys.tail: _*).collect()
      assert(a === b, s"shared $t differ from self-trained")
    }
    assert(EmbeddingOps.annIvfPqIndexed(spark, tiny, sharedDir).collect() ===
      EmbeddingOps.annIvfPqIndexed(spark, tiny, selfDir).collect())
    // a fingerprint mismatch must refuse the reuse (falls back to
    // training) rather than serve a stale quantizer
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$kmDir/_fingerprint"), "stale")
    val fbDir = Scratch.tempDir("graft_ivfpq_fb").toString
    EmbeddingOps.buildIvfPqIndex(spark, tiny, fbDir, Some(kmDir), Some(pqDir))
    val c3 = spark.read.parquet(s"$fbDir/centroids").orderBy("cell").collect()
    val c1 = spark.read.parquet(s"$selfDir/centroids").orderBy("cell").collect()
    assert(c3 === c1, "fallback training must still produce the trained centroids")
  }

  test("a composed build pointed at an :incr index retrains, never reuses") {
    import org.apache.spark.sql.functions.col
    // the incremental lifecycle's index is trained on the 9/10 build
    // slice and stamped fingerprint+":incr" — a composed build over the
    // FULL corpus must see that stamp as a mismatch and run its own
    // Lloyd, not silently serve slice-trained centroids as full-corpus
    EmbeddingOps.annIvfKmeansIncr(spark, tiny).collect(): Unit
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(tiny.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val incrDir = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_incr_${h}_p${java.lang.ProcessHandle.current().pid()}"
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$incrDir/_fingerprint")).endsWith(":incr"))
    val composedDir = Scratch.tempDir("graft_ivfpq_incrsrc").toString
    EmbeddingOps.buildIvfPqIndex(spark, tiny, composedDir, Some(incrDir))
    val composed = spark.read.parquet(s"$composedDir/centroids")
      .orderBy("cell").collect()
    val sliceTrained = spark.read.parquet(s"$incrDir/centroids")
      .orderBy("cell").collect()
    val fullTrained = EmbeddingOps.kmeansCentroids(spark, tiny)
      .orderBy("cell").collect()
    assert(composed === fullTrained, "composed build must carry full-corpus training")
    assert(!(composed.toSeq == sliceTrained.toSeq),
      "slice-trained and full-trained centroids must actually differ for this test to bite")
  }

  test("tombstone-masked serve still partition-prunes the codes scan") {
    // the delete mask must not cost the probe its scale posture: the
    // anti-join layers ON TOP of the routed-cell isin, it must never
    // widen the scan back to the full store
    val delDf = EmbeddingOps.annIvfPqDeleted(spark, tiny)
    delDf.collect() // finalize AQE
    val codeScans = allNodes(delDf.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
    }
    assert(codeScans.nonEmpty, "expected a scan over the index codes table")
    assert(codeScans.forall(_.partitionFilters.nonEmpty),
      "masked codes scan must keep the routed-cell PartitionFilters")
  }

  test("delete lifecycle: tombstone serve == compacted serve; compaction clears and shrinks") {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(tiny.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val tmp = System.getProperty("java.io.tmpdir")
    val pid = java.lang.ProcessHandle.current().pid()
    import spark.implicits._
    // raw codes, then residual codes: the tombstone store and its fold
    // are encoder-agnostic, and both must stay exact
    for ((residual, tag) <- Seq(false -> "ivfpq", true -> "ivfpqres")) {
      val masked = EmbeddingOps.annIvfPqDeleted(spark, tiny, residual).collect()
      val compacted = EmbeddingOps.annIvfPqDeletedCompacted(spark, tiny, residual).collect()
      assert(masked === compacted,
        s"physical fold must answer exactly like the logical tombstone mask ($tag)")
      val delDir = s"$tmp/graft_${tag}_del_${h}_p$pid"     // tombstone-masked run
      val delcDir = s"$tmp/graft_${tag}_delc_${h}_p$pid"   // compacted run
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$delDir/tombstones")),
        s"masked run must still carry its tombstones ($tag)")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$delcDir/tombstones")),
        s"compaction must clear the tombstone store ($tag)")
      // the compacted store must physically contain exactly the survivors
      val storeIds = spark.read.parquet(s"$delcDir/codes")
        .select("vec_id").as[Long].collect().toSet
      assert(storeIds.nonEmpty)
      assert(!storeIds.exists(id => id % 5 == 4 && id >= 8),
        s"no victim id may survive compaction physically ($tag)")
      val maskedIds = spark.read.parquet(s"$delDir/codes")
        .select("vec_id").as[Long].collect().toSet
      assert(maskedIds.filterNot(id => id % 5 == 4 && id >= 8) === storeIds,
        s"compaction must drop exactly the victims ($tag)")
    }
  }

  test("per-process lifecycle dirs are deleted when the JVM exits") {
    // a fresh tmpdir for the child, so whatever it leaves is its own
    val tmp = Scratch.tempDir("graft_exit_tmp")
    try {
      val out = ChildJvm.probe("graft.LifecycleDirProbe", Seq(tiny),
        Seq(s"-Djava.io.tmpdir=$tmp"))
      assert(out("built") == "true", "the child must have built its lifecycle dir")
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(tmp)
      val left = try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft_ivfpq_incr_") &&
          n.endsWith(s"_p${out("pid")}")).toList
      finally listing.close()
      assert(left.isEmpty, s"lifecycle dirs outlived their JVM: $left")
    } finally Scratch.rmTree(tmp.toString)
  }
}

/** Runs the incremental IVF-PQ gate over `args(0)` and exits, printing
  * its pid and whether the gate's per-process dir existed (run by
  * [[IvfIndexSpec]] in its own JVM).
  */
object LifecycleDirProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.open(args(0))
    EmbeddingOps.annIvfPqIncr(spark, args(0)).collect(): Unit
    val dir = Scratch.processDir(args(0), "ivfpq_incr")
    println(s"probe:pid=${java.lang.ProcessHandle.current().pid()}")
    println(s"probe:built=${java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir))}")
    spark.stop()
  }
}
