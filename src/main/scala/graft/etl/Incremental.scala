package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Incremental star maintenance — the lifecycle extension past the
  * reference's truncate-and-reload (S5, dags/etl_fato_vendas.py:110-121):
  * instead of rebuilding the whole fact each run, load the historical
  * fact ONCE and APPEND each new batch into the year-partitioned DW.
  *
  * The contract that makes this safe is gated bit-exactly: a fact built
  * as (historical load) + (increment append) must equal the full rebuild
  * row-for-row — q_fact_incremental runs the split lifecycle against the
  * SAME DuckDB oracle as star_fato_vendas (one full build). Fact rows
  * are per-order-line and every surrogate key is a deterministic
  * function of the dimension snapshot, so the union of two disjoint
  * order-date slices is exactly the full build; nothing about the split
  * leaks into the output.
  *
  * Scale shape: the increment pass joins ONLY the new orders (the
  * header-side date filter is pushed to the scan) and appends files to
  * the partitions its years touch — the historical majority of the DW is
  * never read, shuffled, or rewritten. IncrementalSpec pins that: the
  * pre-cut year partitions' file listing is byte-identical before and
  * after the append. At 100 TB this is the difference between a daily
  * load costing O(day) and costing O(history).
  */
object Incremental {

  /** Order-date boundary between the "historical" load and the
    * "incremental" batch. Mid-corpus for the TPC-H date domain
    * (1992-1998), so both slices are non-trivial at every sf.
    */
  private val cut = "1996-01-01"

  /** The build-once SK maps, shared across processes: [[writeDims]]
    * rebuilds them only when the source fingerprint changes.
    */
  private def dimsDir(d: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${System.getProperty("java.io.tmpdir")}/graft_fact_incr_$h/dims"
  }

  /** A fact every call rewrites in place (overwrite, then append or
    * merge) lives in a per-process dir, deleted at JVM exit, so two JVMs
    * running the same gate on one dataset never rewrite each other's.
    */
  private def factDir(d: String, tag: String): String =
    graft.Scratch.processDir(d, s"fact_incr$tag")

  /** The split lifecycle, returning the read-back fact in the
    * star_fato_vendas presentation form (doubles for the money columns,
    * full deterministic order). Each invocation runs the whole cycle —
    * overwrite with the historical slice, append the increment — so the
    * gate exercises both writer modes every time and a rerun can never
    * double-append.
    */
  def factIncremental(s: SparkSession, d: String): DataFrame =
    readFact(s, buildSplit(s, d))

  /** The star_fato_vendas presentation form of a partitioned DW dir
    * (doubles for the money columns, full deterministic order).
    */
  private def readFact(s: SparkSession, dw: String): DataFrame =
    s.read.parquet(dw).drop("ano")
      .withColumn("valor_bruto", col("valor_bruto").cast("double"))
      .withColumn("valor_desconto", col("valor_desconto").cast("double"))
      .withColumn("valor_total", col("valor_total").cast("double"))
      .select("id_pedido", "numero_linha", "sk_produto", "sk_cliente",
        "sk_vendedor", "sk_localidade", "sk_tempo", "qtd_vendida",
        "valor_bruto", "valor_desconto", "valor_total")
      .orderBy("id_pedido", "numero_linha", "sk_produto", "sk_vendedor",
        "qtd_vendida", "valor_bruto", "valor_desconto")

  /** Idempotent partition BACKFILL — the DW correction primitive: one
    * year of the fact is recomputed from source and rewritten in place
    * under dynamic partition overwrite, which replaces ONLY the
    * partitions present in the incoming write; every other year's files
    * are never opened (IncrementalSpec pins the untouched partitions'
    * file identities). The gate: full build, then backfill 1996 — the
    * read-back must equal the one-shot rebuild row-for-row (same oracle
    * as q_fact_incremental). At 100 TB this is how a bad upstream day
    * gets corrected: recompute the slice, swap its partitions, touch
    * nothing else — no truncate-reload, no table lock.
    */
  def factBackfill(s: SparkSession, d: String): DataFrame = {
    val dw = buildFull(s, d)
    backfillYear(s, d, dw, 1996)
    readFact(s, dw)
  }

  private[graft] def buildFull(s: SparkSession, d: String): String = {
    val dw = factDir(d, "_backfill") + "/fato"
    writeSlice(s, d, lit(true), dw, "overwrite", ensureDims(s, d))
    dw
  }

  private[graft] def backfillYear(s: SparkSession, d: String, dw: String,
      ano: Int): Unit = {
    val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try writeSlice(s, d, year(col("o_orderdate")) === ano, dw, "overwrite",
      ensureDims(s, d))
    finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  /** Runs historical overwrite + increment append; returns the DW path.
    * Exposed for the spec, which also inspects the partition layout
    * between the two phases.
    *
    * The dimensions are maintained SEPARATELY and both fact passes join
    * against the READ-BACK SK maps — the production shape: an increment
    * load looks dimension keys up in the DW it is appending to (the
    * reference's own SK-map read-back, dags/etl_fato_vendas.py:21-24),
    * it does not re-derive the dimensional model per batch. [[ensureDims]]
    * sinks them once per (dataset, fingerprint) and serves read-backs
    * thereafter — the dim-refresh cadence is the source data's, not the
    * fact batches'.
    */
  private[graft] def buildSplit(s: SparkSession, d: String): String = {
    val dw = factDir(d, "")
    val dims = ensureDims(s, d)
    writeSlice(s, d, col("o_orderdate") < lit(cut), s"$dw/fato", "overwrite", dims)
    writeSlice(s, d, col("o_orderdate") >= lit(cut), s"$dw/fato", "append", dims)
    s"$dw/fato"
  }

  /** md5 over every source file's (path, length, mtime) — regenerated
    * testdata can never be served stale SK maps.
    */
  private def dirFingerprint(d: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val sig = walk(new java.io.File(d))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Build-once stored SK maps (staleness-fingerprinted, the same
    * discipline as the ANN auto-indexes): sink on first use or when the
    * source data changed, serve parquet read-backs after.
    */
  private[graft] def ensureDims(s: SparkSession, d: String): Seq[DataFrame] =
    writeDims(s, d, dimsDir(d), onlyIfStale = true)

  /** Sink the four SK maps; return them read back from parquet.
    *
    * Staleness is tracked by ONE fixed marker file whose CONTENT is the
    * source fingerprint (compared, and overwritten on rebuild) — a
    * fingerprint-NAMED marker would accrete one file per historical
    * dataset state, and reverting the source to a prior state (preserved
    * lengths/mtimes) would then match the old marker and serve the
    * intervening dataset's stale SK maps.
    */
  private[graft] def writeDims(s: SparkSession, d: String, dimDir: String,
      onlyIfStale: Boolean = false): Seq[DataFrame] = {
    val fp = dirFingerprint(d)
    val marker = new java.io.File(dimDir, "_built")
    val fresh = onlyIfStale && marker.exists() &&
      java.nio.file.Files.readString(marker.toPath).trim == fp
    val dims = Seq(
      "dp" -> Star.dimProduto(s, d).select("sk_produto", "id_produto_original"),
      "dc" -> Star.dimCliente(s, d).select("sk_cliente", "id_cliente_original"),
      "dv" -> Star.dimVendedor(s, d).select("sk_vendedor", "id_vendedor_original"),
      "dl" -> Star.dimLocalidade(s, d).select("sk_localidade", "id_localidade_original"))
    // read back with the written frame's schema, all fields nullable as
    // parquet reads them, so a read runs no footer-inference job
    val out = dims.map { case (n, df) =>
      if (!fresh) df.write.mode("overwrite").parquet(s"$dimDir/$n")
      s.read.schema(StructType(df.schema.map(_.copy(nullable = true))))
        .parquet(s"$dimDir/$n")
    }
    if (!fresh)
      java.nio.file.Files.writeString(marker.toPath, fp): Unit
    out
  }

  private[graft] def writeSlice(s: SparkSession, d: String,
      pred: org.apache.spark.sql.Column, dw: String, mode: String,
      dims: Seq[DataFrame]): Unit = {
    val o = Tables.orders(s, d).filter(pred)
    val ano = (col("sk_tempo") / 10000).cast("int")
    val Seq(dp, dc, dv, dl) = dims
    Star.fatoVendasFromDims(o, Tables.lineitem(s, d), dp, dc, dv, dl)
      .withColumn("ano", ano)
      .write.mode(mode).partitionBy("ano").parquet(dw)
  }

  // ------------------------------------------------- aggregate maintenance

  private def kpiStateDir(d: String): String = factDir(d, "_kpi")

  /** Incremental AGGREGATE maintenance — the materialized-view member of
    * the incremental family (facts append partitions, SCD2 dims merge
    * versions, ANN indexes append cells; aggregates MERGE PARTIALS): a
    * per-product revenue rollup kept current under fact appends, so a
    * dashboard refresh never re-scans history.
    *
    * Design: the maintained state is keyed by sk_produto — a pure
    * fact-side partial (SUM decimal, COUNT), sum-mergeable and exact —
    * and the presentation join (categoria) happens at READ time against
    * the dimension. Per batch the cost is O(|batch|) scan + O(|products|)
    * merge; the decimal sums are associative, so (historical partial) ⊕
    * (increment partial) is BIT-IDENTICAL to the one-shot aggregate —
    * which is exactly what the gate checks: q_kpi_incremental runs the
    * split lifecycle against the SAME DuckDB oracle as
    * kpi6_vendas_categoria (one full recompute).
    *
    * State lives behind the [[StoreCommit]] pointer: each batch stages a
    * merged snapshot into a per-batch dir and advances the batchId
    * watermark, so a foreachBatch redelivery (streamed twin) is skipped
    * and a mid-apply crash re-stages deterministically — the same
    * exactly-once posture as the SCD2 store.
    */
  def kpiIncremental(s: SparkSession, d: String): DataFrame = {
    val state = kpiStateDir(d)
    StoreCommit.wipe(state)
    val dims = ensureDims(s, d)
    applyKpiBatch(s, d, Tables.orders(s, d)
      .filter(col("o_orderdate") < lit(cut)), state, 0L, dims)
    applyKpiBatch(s, d, Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(cut)), state, 1L, dims)
    readKpiState(s, d, state)
  }

  /** One maintenance batch: derive the batch's fact lines (STORED SK
    * maps, the factIncremental discipline), partial-aggregate them by
    * sk_produto, key-merge with the committed state, commit. Exposed for
    * the streamed twin and the spec.
    */
  private[graft] def applyKpiBatch(s: SparkSession, d: String,
      orders: DataFrame, state: String, batchId: Long,
      dims: Seq[DataFrame]): Unit = {
    val prior = StoreCommit.committed(state)
    if (prior.exists(_._2 >= batchId)) return // replay of a committed batch
    val Seq(dp, dc, dv, dl) = dims
    val partial = Star
      .fatoVendasFromDims(orders, Tables.lineitem(s, d), dp, dc, dv, dl)
      .groupBy("sk_produto")
      .agg(sum(col("valor_total")).cast("decimal(38,2)").as("total"),
        count(lit(1)).as("n"))
    val merged = prior match {
      case Some((dir, _)) =>
        partial.unionByName(s.read.parquet(s"$state/$dir"))
          .groupBy("sk_produto")
          .agg(sum(col("total")).cast("decimal(38,2)").as("total"),
            sum(col("n")).as("n"))
      case None => partial
    }
    merged.write.mode("overwrite").parquet(s"$state/agg_b$batchId")
    StoreCommit.commit(state, s"agg_b$batchId", batchId)
    StoreCommit.cleanupStale(state, "agg_b")
  }

  /** Read-time presentation: the O(|products|) state joins the dimension
    * and rolls up to category — the kpi6 surface, bit-identical to the
    * one-shot aggregate because decimal addition is associative.
    */
  private[graft] def readKpiState(s: SparkSession, d: String,
      state: String): DataFrame = {
    val (dir, _) = StoreCommit.committed(state).getOrElse(
      throw new IllegalStateException(s"KPI state not initialized: $state"))
    s.read.parquet(s"$state/$dir")
      .join(broadcast(Star.dimProduto(s, d)), Seq("sk_produto"))
      .groupBy("categoria")
      .agg(sum(col("total")).cast("double").as("total_vendas"),
        sum(col("n")).as("quantidade_vendas"))
      .orderBy(desc("total_vendas"), asc("categoria"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fact_incremental" -> (factIncremental _),
    // dynamic-partition-overwrite backfill of one year, whole-DW gated
    "q_fact_backfill" -> (factBackfill _),
    // the materialized-view lifecycle: two maintenance batches, then the
    // read-time rollup — same oracle as the one-shot kpi6
    "q_kpi_incremental" -> (kpiIncremental _),
    "q_kpi_incremental_stream" ->
      (graft.streaming.Streams.kpiIncrementalStreamed _))
}
