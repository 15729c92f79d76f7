package graft

import org.apache.spark.sql.functions._
import graft.etl.{Incremental, Star}

/** Incremental star maintenance: the split lifecycle must equal the full
  * rebuild (also gated vs DuckDB as q_fact_incremental), reruns must be
  * idempotent, and — the 100 TB point — the append must never touch the
  * historical partitions.
  */
class IncrementalSpec extends SparkSpec {

  test("historical load + increment append equals the full rebuild; rerun idempotent") {
    val full = Star.fatoVendas(spark, tiny)
      .withColumn("valor_bruto", col("valor_bruto").cast("double"))
      .withColumn("valor_desconto", col("valor_desconto").cast("double"))
      .withColumn("valor_total", col("valor_total").cast("double"))
      .orderBy("id_pedido", "numero_linha", "sk_produto", "sk_vendedor",
        "qtd_vendida", "valor_bruto", "valor_desconto")
      .collect()
    val inc1 = Incremental.factIncremental(spark, tiny).collect()
    assert(inc1 === full, "split lifecycle must reproduce the full rebuild")
    // a rerun replays overwrite+append — never a double append
    val inc2 = Incremental.factIncremental(spark, tiny).collect()
    assert(inc2 === inc1)
  }

  test("the split lifecycle rewrites its fact in a per-process dir") {
    // the fact is overwritten and appended on every call: a dir shared
    // across JVMs would let two concurrent runs rewrite each other's
    val dw = Incremental.buildSplit(spark, tiny)
    val pid = ProcessHandle.current().pid()
    assert(dw.contains(s"_p$pid/"), s"split fact dir $dw is not this process's")
  }

  test("a second ensureDims over an unchanged source runs no Spark job") {
    Incremental.ensureDims(spark, tiny)
    val (_, jobs) = jobsDuring(Incremental.ensureDims(spark, tiny))
    // the stored SK maps are served as they are: no rebuild, and each
    // read-back declares its schema instead of inferring it from a footer
    assert(jobs == 0, s"a fresh ensureDims ran $jobs Spark jobs")
  }

  test("the increment append leaves historical year partitions untouched") {
    def listing(dw: String): Map[String, Seq[(String, Long, Long)]] = {
      val root = new java.io.File(dw)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("ano="))
        .map { p =>
          p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
        }.toMap
    }
    val dw = s"${Scratch.tempDir("graft_incr_spec_")}/dw"
    val dims = Incremental.writeDims(spark, tiny, s"$dw-dims")
    Incremental.writeSlice(spark, tiny,
      col("o_orderdate") < lit("1996-01-01"), dw, "overwrite", dims)
    val before = listing(dw)
    assert(before.keys.forall(_.stripPrefix("ano=").toInt < 1996),
      "historical slice must only populate pre-cut years")
    Incremental.writeSlice(spark, tiny,
      col("o_orderdate") >= lit("1996-01-01"), dw, "append", dims)
    val after = listing(dw)
    // every pre-cut partition's file set is byte-identical — the
    // historical majority was neither rewritten nor touched
    before.foreach { case (p, files) =>
      assert(after(p) == files, s"append modified historical partition $p")
    }
    assert(after.keys.exists(_.stripPrefix("ano=").toInt >= 1996),
      "increment must add post-cut year partitions")
  }

  test("dynamic-overwrite backfill replaces only the backfilled year") {
    def listing(dw: String): Map[String, Seq[(String, Long, Long)]] = {
      val root = new java.io.File(dw)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("ano="))
        .map { p =>
          p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
        }.toMap
    }
    val dw = s"${Scratch.tempDir("graft_backfill_spec_")}/dw"
    val dims = Incremental.writeDims(spark, tiny, s"$dw-dims")
    Incremental.writeSlice(spark, tiny, lit(true), dw, "overwrite", dims)
    val full = spark.read.parquet(dw)
    val fullRows = full.count()
    val before = listing(dw)
    Thread.sleep(1100) // mtime resolution guard
    val prev = spark.conf
      .get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try Incremental.writeSlice(spark, tiny,
      year(col("o_orderdate")) === 1996, dw, "overwrite", dims)
    finally spark.conf
      .set("spark.sql.sources.partitionOverwriteMode", prev)
    val after = listing(dw)
    assert(after.keySet == before.keySet,
      "backfill must not add or drop partitions")
    before.foreach { case (p, files) =>
      if (p == "ano=1996")
        assert(after(p) != files, "the backfilled year must be rewritten")
      else
        assert(after(p) == files, s"backfill touched unrelated partition $p")
    }
    assert(spark.read.parquet(dw).count() == fullRows,
      "backfill must preserve the row count")
  }

  test("maintained KPI state: O(|products|) rows, replay is a no-op, equals the one-shot aggregate") {
    import graft.etl.{Incremental, StoreCommit}
    val state = s"/tmp/graft_kpi_spec_${System.nanoTime()}"
    try {
      val dims = Incremental.ensureDims(spark, tiny)
      val hist = Tables.orders(spark, tiny)
        .filter(col("o_orderdate") < lit("1996-01-01"))
      val incr = Tables.orders(spark, tiny)
        .filter(col("o_orderdate") >= lit("1996-01-01"))
      Incremental.applyKpiBatch(spark, tiny, hist, state, 0L, dims)
      Incremental.applyKpiBatch(spark, tiny, incr, state, 1L, dims)
      val committed = StoreCommit.committed(state)
      val stateRows = spark.read.parquet(s"$state/${committed.get._1}")
      // the maintained state is the REDUCED partial — bounded by the
      // product dimension, not the fact
      assert(stateRows.count() <=
        graft.etl.Star.dimProduto(spark, tiny).count())
      val before = stateRows.orderBy("sk_produto").collect().toSeq
      // foreachBatch redelivery: watermark absorbs it bit-for-bit
      Incremental.applyKpiBatch(spark, tiny, incr, state, 1L, dims)
      assert(StoreCommit.committed(state) === committed, "pointer moved on replay")
      assert(spark.read.parquet(s"$state/${committed.get._1}")
        .orderBy("sk_produto").collect().toSeq === before,
        "replay mutated the committed state")
      // maintained ≡ one-shot: decimal partial sums are associative
      val maintained = Incremental.readKpiState(spark, tiny, state).collect()
      val oneShot = graft.kpi.Kpis.kpi6VendasPorCategoria(
        graft.etl.Star.fatoVendas(spark, tiny),
        graft.etl.Star.dimProduto(spark, tiny)).collect()
      assert(maintained.map(_.toSeq).toSeq === oneShot.map(_.toSeq).toSeq)
    } finally {
      StoreCommit.wipe(state)
    }
  }
}
