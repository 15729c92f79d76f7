package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Compaction of tombstone-deleted rows out of a store partitioned by
  * (`part`, batch): the physical fold every tombstoned index shares (the
  * IVF-PQ codes, the graph and xcell vectors, the BM25 postings).
  */
object Tombstones {

  /** Drop every row of the store at `storeDir` whose `key` is in `t`.
    * Rewrites ONLY the (part, batch) partitions that hold a victim, by
    * dynamic overwrite, and deletes the partitions left with no
    * survivors, which dynamic overwrite cannot do (they produce no rows,
    * so they would survive untouched). Which partitions still have
    * survivors is computed from the kept rows BEFORE the overwrite: a
    * later store read would still see the dead ones. Only the pair sets
    * are collected: O(#affected partitions), never row-scaled. Returns
    * the affected (part, batch) pairs, empty when no stored row is a
    * victim.
    */
  def fold(s: SparkSession, storeDir: String, key: String, part: String,
      t: DataFrame): Seq[(Int, Long)] = {
    // partition-column values come back with INFERRED types (batch=-1
    // reads as Int) — pin both before collecting
    def pairs(df: DataFrame): Seq[(Int, Long)] =
      df.select(col(part).cast("int"), col("batch").cast("long")).distinct()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val victims = broadcast(t.select(key))
    val affected = pairs(
      s.read.parquet(storeDir).join(victims, Seq(key), "left_semi"))
    if (affected.nonEmpty) {
      // ONE InSet over a derived key selects exactly the affected pairs:
      // constant expression-tree size at any partition count (an OR-chain
      // grows a node per pair), still a statically-pruning predicate
      val pairKey =
        concat_ws("#", col(part).cast("string"), col("batch").cast("string"))
      val kept = Checkpoint.barrier(s.read.parquet(storeDir)
        .filter(pairKey.isin(affected.map { case (p, b) => s"$p#$b" }: _*))
        .join(victims, Seq(key), "left_anti"))
      val surviving = pairs(kept).toSet
      kept.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(part, "batch").parquet(storeDir)
      (affected.toSet -- surviving).foreach { case (p, b) =>
        Scratch.rmTree(s"$storeDir/$part=$p/batch=$b")
      }
    }
    affected
  }
}
