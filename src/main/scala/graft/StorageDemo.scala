package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Storage-layout demonstrations for the 100 TB posture:
  *
  *  1. BUCKETED header⨝detail: both sides bucketed+sorted by the order key
  *     → the join plans with NO Exchange on either side (shuffle-free
  *     sort-merge join). At 100 TB this turns the one big shuffle of the
  *     fact build into a metadata-only co-location.
  *  2. PARTITIONED fact: year-partitioned parquet → a year predicate shows
  *     up as PartitionFilters and prunes the scan.
  *
  * Prints the physical plans + observed evidence.
  * Usage: runMain graft.StorageDemo [sfDir]
  */
object StorageDemo {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.open(dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ to show bucketing
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath

    // --- 1. bucketed co-located join ---------------------------------
    Tables.orders(spark, dir).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    Tables.lineitem(spark, dir).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    println(s"bucketed join: $exchanges shuffle Exchange(s) in the plan " +
      s"(unbucketed would need 2); rows=${joined.count()}")

    // --- 2. partition-pruned fact scan --------------------------------
    val fato = etl.Star.fatoVendas(spark, dir)
      .withColumn("ano", (col("sk_tempo") / 10000).cast("int"))
    fato.write.mode("overwrite").partitionBy("ano").parquet(s"$wh/fato")
    val mat = spark.read.parquet(s"$wh/fato")
    val pruned = mat.filter(col("ano") === 1996)
    val planStr = pruned.queryExecution.executedPlan.toString
    val pf = planStr.indexOf("PartitionFilters")
    val scanLine = if (pf >= 0) planStr.substring(pf).takeWhile(_ != ']') + "]"
                   else "(no PartitionFilters found)"
    println(s"partition pruning: $scanLine")
    println(s"  full=${mat.count()} rows, ano=1996 -> ${pruned.count()} rows")

    // --- 3. Z-ORDER layout: one layout serving BOTH predicates --------
    // A time-sorted layout prunes time predicates perfectly and user
    // predicates not at all (every file spans every user). Range-
    // partitioning + sorting on the Morton code of (user, time) gives
    // every file a tight min/max BOX in both dimensions, so the parquet
    // footers prune on EITHER predicate — the multi-dimensional layout
    // trade every lakehouse z-order feature makes. Evidence: the scan's
    // materialized row count (post row-group/page pruning) per
    // (layout × query).
    // --- 3b. small-file compaction (the lakehouse OPTIMIZE pass) ------
    // Incremental/streaming ingest fragments partitioned tables; the
    // maintenance rewrite repartitions each partition's rows into one
    // task so every partition directory lands as ONE file, rows
    // bit-identical. At 100 TB this is the scheduled compaction job that
    // keeps scan task counts (and parquet footer overhead) bounded.
    val (files0, files1, identical) = compactDemo(spark, fato, s"$wh/cmp")
    println(s"compaction: $files0 fragment files -> $files1 " +
      s"(1/partition), rows identical: $identical")

    val z = zorderSkipDemo(spark, dir, s"$wh/ev", 64)
    println(s"z-order skipping over ${z.total} rows, 64 files/layout:")
    println(f"  time-slice query: ts-sorted reads ${z.tsTime}%7d rows, z-ordered ${z.zTime}%7d")
    println(f"  user-slice query: ts-sorted reads ${z.tsUser}%7d rows, z-ordered ${z.zUser}%7d " +
      f"(${z.tsUser.toDouble / math.max(z.zUser, 1L)}%.1fx less I/O on the layout's second dimension)")

    // --- 4. bucketed reference store: one-sided-shuffle anti-join -----
    // The novelty reference store is the big REUSABLE side of every
    // re-crawl scoring pass. Bucketing it by the shingle hash parks it
    // pre-shuffled on disk, so the anti-join shuffles ONLY the new
    // crawl's doc side — at 100 TB that halves the shuffle of the
    // hottest recurring join in the curation pipeline.
    import graft.text.CurationOps
    Tables.documents(spark, dir)
      .filter(s"source IN (${CurationOps.noveltyRefIn})")
      .selectExpr(s"${CurationOps.hashedShinglesExpr} AS shd")
      .select(explode(col("shd")).as("h")).distinct()
      .write.mode("overwrite").bucketBy(8, "h").saveAsTable("novelty_ref_b")
    val docSide = Tables.documents(spark, dir)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
        s"${CurationOps.hashedShinglesExpr} AS shd")
      .select(col("doc_id"), explode(col("shd")).as("h"))
    val anti = docSide.join(spark.table("novelty_ref_b"), Seq("h"), "left_anti")
    val antiPlan = anti.queryExecution.executedPlan.toString
    val antiEx = "Exchange hashpartitioning".r.findAllIn(antiPlan).length
    println(s"bucketed novelty store: $antiEx shuffle Exchange(s) in the " +
      s"anti-join plan (unbucketed needs 2); novel hash rows=${anti.count()}")
    spark.stop()
  }

  /** Fragment `df` (year-partitioned, many small files), compact to one
    * file per partition, and verify the rewrite is lossless. Returns
    * (fragment file count, compacted file count, rows identical).
    */
  def compactDemo(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, out: String): (Int, Int, Boolean) = {
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val fragged = df.withColumn("ano", (col("sk_tempo") / 10000).cast("int"))
    fragged.repartition(50)
      .write.mode("overwrite").partitionBy("ano").parquet(s"$out/frag")
    val frag = spark.read.parquet(s"$out/frag")
    // repartition ON the partition column: a year never splits across
    // tasks, so each partition directory is written as exactly one file
    val years = frag.select("ano").distinct().count().toInt
    frag.repartition(years, col("ano"))
      .write.mode("overwrite").partitionBy("ano").parquet(s"$out/compact")
    val compact = spark.read.parquet(s"$out/compact")
    val identical = frag.exceptAll(compact).isEmpty &&
      compact.exceptAll(frag).isEmpty
    (parquetFiles(s"$out/frag"), parquetFiles(s"$out/compact"), identical)
  }

  /** Scan-materialized rows per (layout × query) + corpus size. */
  final case class ZSkip(tsTime: Long, zTime: Long, tsUser: Long,
      zUser: Long, total: Long)

  /** Writes the events table under a 1-D (time-sorted) and a 2-D
    * (Morton/Z-order, both dimensions min/max-normalized to 16 bits so
    * the interleave is balanced) layout with `files` files each, then
    * runs a time-slice query and a user-slice query against both and
    * returns each scan's materialized row count (after parquet footer
    * pruning — files are row-group-sized here, the 100 TB behavior
    * scaled down). Shared by the demo main and ZOrderSpec.
    */
  def zorderSkipDemo(spark: SparkSession, dir: String, out: String,
      files: Int): ZSkip = {
    graft.functions.GraftFunctions.register(spark)
    val evRaw = Tables.events(spark, dir).selectExpr(
      "CAST(user_id AS BIGINT) AS user_id", "ts", "event_type", "value",
      "CAST(unix_micros(ts) DIV 60000000 AS BIGINT) AS ts_min")
    val b = evRaw.selectExpr("min(user_id) AS u0", "max(user_id) AS u1",
      "min(ts_min) AS t0", "max(ts_min) AS t1").head()
    val (u0, u1, t0, t1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // equal 16-bit budgets per dimension — an unnormalized interleave
    // would put all significant high bits on the wider dimension (minutes
    // since epoch ≈ 25 bits vs ~11 user bits) and degenerate to a 1-D
    // time sort
    val ev = evRaw.selectExpr("user_id", "ts", "event_type", "value", "ts_min",
      s"(user_id - $u0) * 65535 DIV ${math.max(u1 - u0, 1L)} AS u16",
      s"(ts_min - $t0) * 65535 DIV ${math.max(t1 - t0, 1L)} AS t16")
    ev.repartitionByRange(files, col("ts_min"))
      .sortWithinPartitions("ts_min")
      .write.mode("overwrite").parquet(s"$out/ts_sorted")
    ev.selectExpr("*", "zorder64(u16, t16) AS z")
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .drop("z") // the layout, not the schema, carries the clustering
      .write.mode("overwrite").parquet(s"$out/zordered")
    def scanRows(path: String, pred: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(path).filter(pred)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    // both slices are fractions of the corpus DOMAIN, so the demo holds
    // at any scale factor: 1/16 of the time span, and the middle 1/16 of
    // the user range (≥ 1 user wide)
    val timeSlice = col("ts_min").between(t0, t0 + math.max((t1 - t0) / 16L, 1L))
    val uMid = u0 + (u1 - u0) / 2
    val userSlice = col("user_id")
      .between(uMid, uMid + math.max((u1 - u0) / 16L, 1L))
    ZSkip(
      scanRows(s"$out/ts_sorted", timeSlice), scanRows(s"$out/zordered", timeSlice),
      scanRows(s"$out/ts_sorted", userSlice), scanRows(s"$out/zordered", userSlice),
      evRaw.count())
  }
}
