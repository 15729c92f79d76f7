package graft

import java.io.File
import graft.etl.Star
import graft.text.TextOps

/** The graft.checkpoint.dir deployment switch: barriers default to local
  * checkpoints (executor-resident blocks — fine at local[N], fatal after
  * executor loss on a dynamic-allocation cluster), and swap to reliable
  * checkpoint() into the configured directory when the conf is set. The
  * result must be identical either way; only the materialization
  * mechanism changes.
  */
class CheckpointSpec extends SparkSpec {

  private def filesUnder(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(filesUnder)
    else Seq(f)

  test("dedupClusters result is identical under reliable checkpointing and the dir is populated") {
    // default path first (local checkpoints), before the conf is set
    val baseline = TextOps.dedupClusters(spark, tiny).collect()
    assert(baseline.nonEmpty)

    val dir = Scratch.tempDir("graft_ckpt").toFile
    spark.conf.set(Checkpoint.DirConf, dir.getAbsolutePath)
    try {
      val reliable = TextOps.dedupClusters(spark, tiny).collect()
      assert(reliable === baseline)
      assert(spark.sparkContext.getCheckpointDir.nonEmpty,
        "reliable barrier must pin the SparkContext checkpoint dir")
      assert(filesUnder(dir).nonEmpty,
        s"expected reliable checkpoint files under $dir")
    } finally {
      spark.conf.unset(Checkpoint.DirConf)
    }
  }

  test("denseDistributed surrogate keys are stable under reliable checkpointing") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(s"$tiny/part.parquet")
    val default = graft.etl.SurrogateKeys
      .dense(df, "sk", Seq(col("p_partkey"))).select("sk", "p_partkey").collect()
    val dir = Scratch.tempDir("graft_ckpt2").toFile
    spark.conf.set(Checkpoint.DirConf, dir.getAbsolutePath)
    try {
      val reliable = graft.etl.SurrogateKeys
        .denseDistributed(df, "sk", Seq(col("p_partkey")))
        .select("sk", "p_partkey").orderBy("sk").collect()
      assert(reliable === default.sortBy(_.getInt(0)))
    } finally {
      spark.conf.unset(Checkpoint.DirConf)
    }
  }

  // ------------------------------------------------ r22 block lifecycle

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("local barrier registers its blocks and release drops them") {
    Checkpoint.releaseAll() // clean slate: the registry is JVM-global
    val before = persistedIds
    val df = Checkpoint.barrier(spark.range(1000).toDF("id"))
    assert(df.count() === 1000L)
    val added = persistedIds -- before
    assert(added.nonEmpty, "eager local barrier must persist blocks")
    assert(Checkpoint.liveCount >= 1)
    Checkpoint.release(df)
    assert((persistedIds intersect added).isEmpty,
      "release must unpersist the barrier's RDD")
    // releasing again (or releasing a non-barrier frame) must no-op
    Checkpoint.release(df)
    Checkpoint.release(spark.range(5).toDF("id"))
  }

  test("barrierReplacing keeps the new round's data and drops the old round's blocks") {
    Checkpoint.releaseAll()
    val before = persistedIds
    val a = Checkpoint.barrier(spark.range(100).toDF("id"))
    val aIds = persistedIds -- before
    assert(aIds.nonEmpty)
    val b = Checkpoint.barrierReplacing(a.selectExpr("id + 1 AS id"), a)
    assert((persistedIds intersect aIds).isEmpty,
      "superseded round's blocks must be gone after rotation")
    // the rotated frame is intact and correct (computed BEFORE the drop)
    assert(b.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
      === (1L to 100L).sum)
    Checkpoint.release(b)
  }

  test("releaseAll empties the registry and the persisted-RDD map of barrier blocks") {
    Checkpoint.releaseAll()
    val before = persistedIds
    val a = Checkpoint.barrier(spark.range(10).toDF("id"))
    val c = Checkpoint.barrier(spark.range(20).toDF("id"))
    assert(a.count() + c.count() === 30L)
    assert(Checkpoint.liveCount >= 2)
    Checkpoint.releaseAll()
    assert(Checkpoint.liveCount === 0)
    assert(persistedIds === before,
      "releaseAll must return the persisted-RDD map to its prior state")
  }

  test("star build releases the barriers its dims read; other barriers stay; fact unchanged") {
    def fact(dw: String) = Star.readDw(spark, dw, "fato_vendas")
    def tmp() = Scratch.tempDir("graft_star_ckpt").toString
    val viaWindow = tmp()
    StarBench.starBuildTo(spark, tiny, viaWindow)
    // a barrier the build did not create must survive it
    val foreign = Checkpoint.barrier(spark.range(10).toDF("id"))
    val live = Checkpoint.liveCount
    val routed = tmp()
    spark.conf.set("graft.sk.windowMaxBytes", "1") // every dim routes distributed
    try {
      // the route registers a barrier: the check below is not vacuous
      val dim = Star.dimProduto(spark, tiny)
      assert(Checkpoint.liveCount > live)
      Checkpoint.releaseReadBy(dim)
      assert(Checkpoint.liveCount === live)
      StarBench.starBuildTo(spark, tiny, routed)
    } finally spark.conf.unset("graft.sk.windowMaxBytes")
    assert(Checkpoint.liveCount === live,
      "the star build left its surrogate-key barriers live")
    assert(foreign.count() === 10L)
    assert(fact(routed).count() === fact(viaWindow).count())
    assert(fact(routed).exceptAll(fact(viaWindow)).isEmpty)
    Checkpoint.release(foreign)
    Seq(viaWindow, routed).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new File(d)))
  }
}
