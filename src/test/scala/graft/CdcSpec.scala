package graft

import org.apache.spark.sql.functions._
import graft.etl.Cdc

/** CDC changelog apply: the latest-seq-wins/delete-tombstone contract,
  * out-of-order tombstone arrival through the store, and replay safety.
  */
class CdcSpec extends SparkSpec {

  test("cdc apply: deletes erase, updates win, untouched keys pass through") {
    val base = Tables.orders(spark, tiny)
      .selectExpr("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = Cdc.cdcApply(spark, tiny).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[String]("o_orderstatus"))
      .toMap
    assert(out.keySet == base.keySet.filter(_ % 10 != 1), "deleted keys gone")
    out.foreach { case (k, st) =>
      if (k % 10 == 0) assert(st == "X", s"key $k must carry the update")
      else assert(st == base(k), s"key $k must be untouched")
    }
  }

  test("cdc store: tombstone-first arrival and batch replays leave state ≡ batch apply") {
    val dir = Scratch.tempDir("cdc_store_spec").toString
    val log = Cdc.changelog(spark, tiny)
    val late = log.filter(col("seq") === 2)  // updates + tombstones FIRST
    val early = log.filter(col("seq") === 1) // inserts second
    Cdc.cdcApplyBatch(spark, dir, late, 0L)
    Cdc.cdcApplyBatch(spark, dir, early, 1L)
    val served = Cdc.cdcReadState(spark, dir).collect().toSeq
    // at-least-once: replaying both batches must change nothing
    Cdc.cdcApplyBatch(spark, dir, late, 0L)
    Cdc.cdcApplyBatch(spark, dir, early, 1L)
    assert(Cdc.cdcReadState(spark, dir).collect().toSeq == served)
    assert(served == Cdc.cdcApply(spark, tiny).collect().toSeq)
  }

  test("cdc compaction: O(keys) state, tombstones kept, later batches still apply") {
    val dir = Scratch.tempDir("cdc_compact_spec").toString
    val log = Cdc.changelog(spark, tiny)
    Cdc.cdcApplyBatch(spark, dir, log.filter(col("seq") === 1), 0L)
    Cdc.cdcApplyBatch(spark, dir, log.filter(col("seq") === 2), 1L)
    val before = Cdc.cdcReadState(spark, dir).collect().toSeq
    val rawBefore = {
      val (d, _) = graft.etl.StoreCommit.committed(dir).get
      spark.read.parquet(s"$dir/$d")
    }
    val keys = rawBefore.select("o_orderkey").distinct().count()
    assert(rawBefore.count() > keys, "pre-compaction log carries superseded rows")

    Cdc.cdcCompact(spark, dir)
    val (cd, _) = graft.etl.StoreCommit.committed(dir).get
    val rawAfter = spark.read.parquet(s"$dir/$cd")
    assert(rawAfter.count() == keys, "compacted log is one row per key")
    assert(rawAfter.filter(col("op") === "D").count() > 0, "tombstones survive compaction")
    assert(Cdc.cdcReadState(spark, dir).collect().toSeq == before)

    // a post-compaction batch (seq 3 update on a previously DELETED key)
    // must apply on top: the tombstone is superseded and the key returns
    val revive = log.filter(col("seq") === 2 && col("op") === "D").limit(1)
      .selectExpr("'U' AS op", "CAST(3 AS INT) AS seq", "o_orderkey",
        "o_custkey", "'R' AS o_orderstatus", "o_totalprice")
    val revivedKey = revive.collect().head.getAs[Long]("o_orderkey")
    Cdc.cdcApplyBatch(spark, dir, revive, 2L)
    val after = Cdc.cdcReadState(spark, dir)
      .filter(col("o_orderkey") === revivedKey).collect()
    assert(after.length == 1 && after.head.getAs[String]("o_orderstatus") == "R")
  }
}
