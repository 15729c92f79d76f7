package graft.etl

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.Row
import graft.Checkpoint.BarrierOps

/** Surrogate-key assignment (replaces the reference's Postgres SERIAL,
  * e.g. create_dw_tables.sql:15 `sk_produto SERIAL`).
  *
  * Two strategies:
  *
  *  - [[dense]]: `row_number() OVER (ORDER BY businessKey)` — contiguous
  *    from 1, deterministic, matches SERIAL-by-insert-order semantics when
  *    the insert order is the business-key order. Requires a single-
  *    partition window, so use it only for dimension-sized inputs
  *    (all reference dims are ≤ 20k rows).
  *
  *  - [[denseDistributed]]: sort → per-partition count → prefix-sum offsets
  *    broadcast back. Same contiguous, deterministic numbering but computed
  *    with a range-partitioned sort + one tiny driver-side prefix sum over
  *    partition COUNTS (not rows) — this is the 100 TB path: no single
  *    reducer ever sees the whole table.
  *
  * Both produce identical output (asserted in SurrogateKeySpec), so the
  * DuckDB oracle (`row_number() over (order by k)`) validates either.
  */
object SurrogateKeys {

  /** Single-partition window row_number. Dimension-sized inputs only. */
  def dense(df: DataFrame, skName: String, orderBy: Seq[Column]): DataFrame =
    df.withColumn(skName, row_number().over(Window.orderBy(orderBy: _*)))

  /** Size-routed SK assignment — what the production dim builders call:
    * [[dense]] for dimension-sized inputs, [[denseDistributed]] once the
    * bytes the plan SCANS — the summed sizeInBytes of the optimized
    * plan's leaf relations, an estimate no job runs to decide — cross
    * `graft.sk.windowMaxBytes` (default 64 MiB — far below what a single
    * window reducer can absorb, far above every reference dim). Not the
    * root's own estimate: without CBO a join's sizeInBytes is the PRODUCT
    * of its children's (≈600 GB for a 20k-row dim over two left joins),
    * and the distributed route runs eager jobs (sort sampling, barrier,
    * partition counts) while the frame is only being built. The dim
    * builders' lookups are many-to-one (keyed geo tables), so a dim holds
    * at most one row per base row and the scanned bytes bound what the
    * window sees. Both routes produce identical values (EngineSpec), so
    * the DuckDB oracle's row_number() validates either; the sk column is
    * INT in both routes, matching the reference's SERIAL
    * (create_dw_tables.sql:15) — a dim beyond 2³¹ contiguous keys would
    * outgrow the reference's own schema.
    */
  def auto(df: DataFrame, skName: String, orderBy: Seq[Column]): DataFrame = {
    val maxBytes = df.sparkSession.conf
      .getOption("graft.sk.windowMaxBytes").map(_.toLong).getOrElse(64L << 20)
    val est = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (est <= maxBytes) dense(df, skName, orderBy)
    else denseDistributed(df, skName, orderBy)
      // guard the Long→INT narrowing: with ANSI off a >2³¹-row dim would
      // silently wrap to negative/duplicate keys — fail loudly instead
      // (the distributed route exists precisely for huge dims).
      .withColumn(skName,
        when(col(skName) <= lit(Int.MaxValue.toLong), col(skName).cast("int"))
          .otherwise(raise_error(concat(
            lit(s"$skName exceeds INT range (reference schema is SERIAL): "),
            col(skName).cast("string")))))
  }

  /** Deterministic keyed dedup: keep exactly one row per key — the one
    * that sorts first over the remaining columns. Replaces bare
    * dropDuplicates (which keeps an ARBITRARY, partition-dependent row)
    * wherever the engine promises reproducible output. Matches pandas
    * keep-first whenever keys are unique (asserted by the parity tests);
    * with true duplicates it is still deterministic, unlike both.
    */
  def dedupKeepSmallest(df: DataFrame, key: String): DataFrame = {
    val rest = df.columns.filter(_ != key).toIndexedSeq
      .map(org.apache.spark.sql.functions.col)
    val w = Window.partitionBy(key).orderBy(rest: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(org.apache.spark.sql.functions.col("__rn") === 1)
      .drop("__rn")
  }

  /** Scale-out contiguous id, fully COLUMNAR (no RDD layer, no per-row
    * object serialization — the whole path stays inside Tungsten/codegen):
    *
    *  1. range-partitioned sort on the business key;
    *  2. `monotonically_increasing_id()` stamps each row with
    *     (partition id << 33 | per-partition counter) — pinned by an eager
    *     checkpoint barrier (graft.Checkpoint) so task retries can't restamp rows differently;
    *  3. ONE tiny aggregation job collects per-partition (count, min id,
    *     max id) — the driver only ever handles O(numPartitions) triples,
    *     never rows — and prefix-sums the counts into global offsets;
    *  4. a broadcast join on partition id turns each row's local counter
    *     into its global contiguous rank: sk = offset + (id − min) + 1.
    *
    * Step 4 is exact because the per-partition counter is consecutive; the
    * driver VERIFIES that from the step-3 triples (max − min + 1 == count
    * per partition) and aborts loudly rather than emit gapped keys if a
    * future Spark changes the id layout.
    *
    * vs the previous rdd.zipWithIndex form: no Tungsten→Row decode, no
    * MEMORY_AND_DISK cache of the whole sorted table as Java objects, no
    * second full pass — the checkpoint holds compact InternalRow pages and
    * everything downstream is one codegen'd projection + broadcast join.
    */
  def denseDistributed(df: DataFrame, skName: String, orderBy: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val stamped = df.orderBy(orderBy: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .barrier() // pin ids against retry restamping
    val parts = stamped
      .groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__n"), min("__mid").as("__lo"), max("__mid").as("__hi"))
      .orderBy("__pid")
      .collect() // O(numPartitions), not rows
    parts.foreach { r =>
      require(r.getLong(3) - r.getLong(2) + 1 == r.getLong(1),
        s"monotonically_increasing_id not consecutive in partition ${r.getInt(0)}" +
          " — dense SK assignment would gap; update SurrogateKeys for this Spark")
    }
    // (pid, offsetBeforeThisPartition, minId) rows for the broadcast join
    val cumEnds = parts.scanLeft(0L)((acc, r) => acc + r.getLong(1)).drop(1)
    val offDf = spark.createDataFrame(
      parts.zip(cumEnds).map { case (r, cumEnd) =>
        Row(r.getInt(0), cumEnd - r.getLong(1), r.getLong(2))
      }.toList.asJava,
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        StructField("__off", LongType, nullable = false),
        StructField("__lo", LongType, nullable = false))))
    stamped.withColumn("__pid", spark_partition_id())
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn(skName, col("__off") + (col("__mid") - col("__lo")) + 1)
      .drop("__pid", "__mid", "__off", "__lo")
  }
}
