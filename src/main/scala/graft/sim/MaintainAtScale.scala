package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintenance lifecycles at adaptive-K scale — the r18 verdict's #2:
  * the seam-correct re-link is proven on 16-cell ring specs, but no
  * append/delete/compact had executed against a store whose cell graph
  * `adaptiveK` actually changed (50 cells at 200k vectors). This probe
  * runs the three lifecycles the verdict named — graph-routed append,
  * xcell append → delete → compact, BM25 update → delete → compact —
  * on the staged corpus and verifies each maintained store is
  * EQUAL to its rebuilt twin:
  *
  *  - store-level: every table of the maintained store equals the
  *    fresh derivation over the post-mutation corpus under the SAME
  *    slice-trained centroids (exceptAll both ways — the exact
  *    invariant the gate-scale DuckDB oracles pin, now checked at a
  *    scale the oracle's unrolled k-means cannot reach);
  *  - serve-level: the maintained and twin stores answer the fixed
  *    query set with collect-identical rows (score bits included).
  *
  * Reproduce: `tools/run.sh graft.sim.MaintainAtScale /tmp/graft_sf10`.
  */
object MaintainAtScale {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf10"))
    val spark = graft.GraftSession.open(sfDir)

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // SPARK_GRAFT_MAINTAIN_ONLY=substr,substr runs a lifecycle subset —
    // at the 2M-vector staging only one family fits a session's budget
    val only = sys.env.get("SPARK_GRAFT_MAINTAIN_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def wanted(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    def work = java.nio.file.Files
      .createTempDirectory("graft_maintain").toString
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      out(s"${name}_sec") = (System.nanoTime() - t0) / 1e9
      r
    }
    /** exceptAll both ways on the named columns — exact multiset
      * equality, order- and layout-independent.
      */
    def setEq(name: String, a: DataFrame, b: DataFrame,
        cols: Seq[String]): Unit = {
      val x = a.select(cols.map(col): _*)
      val y = b.select(cols.map(col): _*)
      val extra = x.exceptAll(y).count()
      val missing = y.exceptAll(x).count()
      out(s"${name}_extra") = extra.toDouble
      out(s"${name}_missing") = missing.toDouble
      out(s"${name}_match") = if (extra == 0 && missing == 0) 1.0 else 0.0
    }
    def serveEq(name: String, a: DataFrame, b: DataFrame): Unit = {
      val x = a.collect().toSeq
      val y = b.collect().toSeq
      out(s"${name}_rows") = x.size.toDouble
      out(s"${name}_match") = if (x == y && x.nonEmpty) 1.0 else 0.0
    }

    val base = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    val arrival = col("vec_id") % 10 === 9
    val preN = base.filter(!arrival).count()
    out("n_vectors") = base.count().toDouble
    out("pre_n") = preN.toDouble

    // ---- graph-routed: build 9/10, layer, append 1/10 ----------------
    if (wanted("graph_routed")) locally {
      val dirM = work
      timed("graph_routed_build") {
        EmbeddingOps.buildGraphIndexOn(spark, base.filter(!arrival), dirM,
          knownN = preN)
        EmbeddingOps.buildGraphLayerOn(spark, dirM)
      }
      timed("graph_routed_append") {
        EmbeddingOps.appendGraphRoutedIndex(spark, base.filter(arrival),
          dirM, batchId = 0L)
      }
      out("graph_routed_cells") =
        spark.read.parquet(s"$dirM/centroids").count().toDouble
      // twin: fresh derivation over the FULL corpus under the stored
      // (slice-trained) centroids — what the gate-scale oracle computes
      val dirF = work
      timed("graph_routed_twin_build") {
        val cents = spark.read.parquet(s"$dirM/centroids")
        // the twin must derive under the STORE's quantizer scale — the
        // adjacency-degree law and the compressed-guided build path both
        // key on the cell count
        EmbeddingOps.buildGraphIndexUnder(spark, base, cents, dirF,
          cents.count())
        EmbeddingOps.buildGraphLayerOn(spark, dirF)
      }
      timed("graph_routed_compare") {
        setEq("graph_routed_vectors",
          spark.read.parquet(s"$dirM/vectors"),
          spark.read.parquet(s"$dirF/vectors"),
          Seq("vec_id", "cell"))
        setEq("graph_routed_edges",
          spark.read.parquet(s"$dirM/edges"),
          spark.read.parquet(s"$dirF/edges"),
          Seq("src", "dst", "cell"))
        setEq("graph_routed_entries",
          spark.read.parquet(s"$dirM/entries"),
          spark.read.parquet(s"$dirF/entries"),
          spark.read.parquet(s"$dirM/entries").columns.toSeq)
        serveEq("graph_routed_serve",
          EmbeddingOps.annGraphRoutedIndexed(spark, sfDir, dirM),
          EmbeddingOps.annGraphRoutedIndexed(spark, sfDir, dirF))
      }
      // the delete+compact half of the routed lifecycle (r19 verdict
      // #6 names append AND compact at 2M): tombstone the mod-5
      // victims, fold them physically, re-link the touched cells —
      // twin is the fresh build over survivors under the same stored
      // centroids (layer refreshed the same way)
      val victims = base.filter(EmbeddingOps.DeleteVictims).select("vec_id")
      timed("graph_routed_delete_compact") {
        EmbeddingOps.deleteGraphIndex(spark, victims, dirM, batchId = 1L)
        EmbeddingOps.compactGraphIndex(spark, dirM)
        EmbeddingOps.buildGraphLayerOn(spark, dirM)
      }
      val dirF2 = work
      timed("graph_routed_compact_twin_build") {
        val cents = spark.read.parquet(s"$dirM/centroids")
        EmbeddingOps.buildGraphIndexUnder(spark,
          base.filter(!EmbeddingOps.DeleteVictims), cents, dirF2,
          cents.count())
        EmbeddingOps.buildGraphLayerOn(spark, dirF2)
      }
      timed("graph_routed_compact_compare") {
        setEq("graph_routed_compact_vectors",
          spark.read.parquet(s"$dirM/vectors"),
          spark.read.parquet(s"$dirF2/vectors"),
          Seq("vec_id", "cell"))
        setEq("graph_routed_compact_edges",
          spark.read.parquet(s"$dirM/edges"),
          spark.read.parquet(s"$dirF2/edges"),
          Seq("src", "dst", "cell"))
        setEq("graph_routed_compact_entries",
          spark.read.parquet(s"$dirM/entries"),
          spark.read.parquet(s"$dirF2/entries"),
          spark.read.parquet(s"$dirM/entries").columns.toSeq)
        serveEq("graph_routed_compact_serve",
          EmbeddingOps.annGraphRoutedIndexed(spark, sfDir, dirM),
          EmbeddingOps.annGraphRoutedIndexed(spark, sfDir, dirF2))
      }
    }

    // ---- xcell: build 9/10, append 1/10, delete, compact -------------
    if (wanted("xcell")) locally {
      val dirM = work
      timed("xcell_build") {
        EmbeddingOps.buildGraphXcellIndexOn(spark, base.filter(!arrival),
          dirM, knownN = preN)
      }
      timed("xcell_append") {
        EmbeddingOps.appendGraphXcellIndex(spark, base.filter(arrival),
          dirM, batchId = 0L)
      }
      val cents = spark.read.parquet(s"$dirM/centroids")
      val nCells = cents.count()
      val dirF = work
      timed("xcell_twin_build") {
        EmbeddingOps.buildGraphXcellIndexUnder(spark, base, cents, dirF,
          nCells)
      }
      def cmp(tag: String, m: String, f: String): Unit = {
        setEq(s"xcell_${tag}_vectors",
          spark.read.parquet(s"$m/vectors"),
          spark.read.parquet(s"$f/vectors"), Seq("vec_id", "cell"))
        setEq(s"xcell_${tag}_fedges",
          spark.read.parquet(s"$m/fedges"),
          spark.read.parquet(s"$f/fedges"), Seq("src", "dst"))
        setEq(s"xcell_${tag}_xedges",
          spark.read.parquet(s"$m/xedges"),
          spark.read.parquet(s"$f/xedges"), Seq("src", "dst"))
        serveEq(s"xcell_${tag}_serve",
          EmbeddingOps.annGraphXcellIndexed(spark, sfDir, m),
          EmbeddingOps.annGraphXcellIndexed(spark, sfDir, f))
      }
      timed("xcell_append_compare") { cmp("append", dirM, dirF) }
      // delete the mod-5 victims, compact, twin over the survivors
      val victims = base.filter(EmbeddingOps.DeleteVictims).select("vec_id")
      timed("xcell_delete_compact") {
        EmbeddingOps.deleteGraphXcellIndex(spark, victims, dirM,
          batchId = 1L)
        EmbeddingOps.compactGraphXcellIndex(spark, dirM)
      }
      val dirF2 = work
      timed("xcell_compact_twin_build") {
        EmbeddingOps.buildGraphXcellIndexUnder(spark,
          base.filter(!EmbeddingOps.DeleteVictims), cents, dirF2, nCells)
      }
      timed("xcell_compact_compare") { cmp("compact", dirM, dirF2) }
    }

    // ---- BM25: build 9/10, append 1/10, delete mod-7, compact --------
    if (wanted("bm25")) locally {
      import graft.text.RetrievalOps
      val docs = graft.Tables.documents(spark, sfDir)
      val dArr = col("doc_id") % 10 === 9
      val dirM = work
      timed("bm25_build") {
        RetrievalOps.buildBm25IndexOn(spark, docs.filter(!dArr), dirM)
      }
      timed("bm25_append") {
        RetrievalOps.appendBm25Docs(spark, docs.filter(dArr), dirM,
          batchId = 0L)
      }
      val dirF = work
      timed("bm25_twin_build") {
        RetrievalOps.buildBm25IndexOn(spark, docs, dirF)
      }
      timed("bm25_append_compare") {
        setEq("bm25_append_postings",
          spark.read.parquet(s"$dirM/postings"),
          spark.read.parquet(s"$dirF/postings"),
          Seq("term", "doc_id", "tf", "len"))
        setEq("bm25_append_doclens",
          spark.read.parquet(s"$dirM/doclens"),
          spark.read.parquet(s"$dirF/doclens"), Seq("doc_id", "len"))
        setEq("bm25_append_stats",
          spark.read.parquet(s"$dirM/stats"),
          spark.read.parquet(s"$dirF/stats"), Seq("nd", "sumlen"))
        serveEq("bm25_append_serve",
          RetrievalOps.bm25Served(spark, dirM),
          RetrievalOps.bm25Served(spark, dirF))
      }
      val victims = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
      timed("bm25_delete_compact") {
        RetrievalOps.deleteBm25Docs(spark, victims, dirM, batchId = 1L)
        RetrievalOps.compactBm25Index(spark, dirM)
      }
      val dirF2 = work
      timed("bm25_compact_twin_build") {
        RetrievalOps.buildBm25IndexOn(spark,
          docs.filter(!(col("doc_id") % 7 === 3)), dirF2)
      }
      timed("bm25_compact_compare") {
        setEq("bm25_compact_postings",
          spark.read.parquet(s"$dirM/postings"),
          spark.read.parquet(s"$dirF2/postings"),
          Seq("term", "doc_id", "tf", "len"))
        setEq("bm25_compact_doclens",
          spark.read.parquet(s"$dirM/doclens"),
          spark.read.parquet(s"$dirF2/doclens"), Seq("doc_id", "len"))
        serveEq("bm25_compact_serve",
          RetrievalOps.bm25Served(spark, dirM),
          RetrievalOps.bm25Served(spark, dirF2))
      }
    }

    val qs = out.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"maintain_at_scale","sf":"$sfDir","rows":$qs}""")
    spark.stop()
  }
}
