package graft

import org.apache.spark.sql.functions._
import graft.etl.JsonlStage

/** JSONL corpus-ingest round-trip invariants. The oracle gates
  * (q_ingest_jsonl / q_ingest_jsonl_dirty / q_jsonl_dirty_audit) pin the
  * end result against DuckDB-over-parquet; these specs pin the mechanism —
  * losslessness of the nested gzipped wire format, the shard layout the
  * scale story depends on, the JSON hazards the explicit-schema read
  * closes, and the exact reject behavior of the dirty path.
  */
class JsonlStageSpec extends SparkSpec {
  import spark.implicits._

  test("staged JSONL round-trips the documents table exactly, in gzipped shards") {
    val dir = JsonlStage.stage(spark, tiny)
    val pq = Tables.documents(spark, tiny)
    val back = JsonlStage.readJsonl(spark, dir)
    assert(back.schema === pq.schema, "flattened schema must match parquet")
    assert(back.exceptAll(pq).count() === 0 &&
      pq.exceptAll(back).count() === 0, "rows must survive the trip")
    // the layout itself is part of the contract: multiple .gz parts so
    // file-level read parallelism exists despite gzip's unsplittability
    val parts = new java.io.File(s"$dir/documents.jsonl").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".gz"))
    assert(parts.length === JsonlStage.NShards,
      s"expected ${JsonlStage.NShards} gzipped shards, got ${parts.length}")
  }

  test("JSON escaping keeps newlines, quotes, unicode and null-vs-empty distinct") {
    val dir = Scratch.tempDir("graft_jsonopt").toString
    val rows = Seq(
      (1L, Some("plain")),
      (2L, None),                         // NULL, not ""
      (3L, Some("")),                     // "", not NULL
      (4L, Some("line1\nline2\ttabbed")), // the CSV-killer: embedded newline
      (5L, Some("quo\"te \\ slash")),
      (6L, Some("unicode: ação 日本語 ✓")))
    rows.toDF("k", "v").write.option("compression", "gzip").json(s"$dir/t")
    val back = spark.read.schema("k BIGINT, v STRING").json(s"$dir/t")
      .as[(Long, Option[String])].collect().sortBy(_._1)
    assert(back.toSeq === rows.sortBy(_._1))
  }

  test("dirty staging: PERMISSIVE read rejects every injected malformation, keeps every real row") {
    val dirty = JsonlStage.stageDirty(spark, tiny)
    val raw = JsonlStage.readJsonlDirty(spark, dirty).cache()
    try {
      val nClean = Tables.documents(spark, tiny).count()
      assert(raw.filter(col("_corrupt").isNotNull).count() ===
        JsonlStage.NCorrupt.toLong,
        "every injected line must be judged corrupt (none may null-fill)")
      assert(raw.filter(col("_corrupt").isNull).count() === nClean,
        "no real row may be rejected")
      // survivors == the clean table, column for column (the gate's claim)
      val surv = JsonlStage.dirtyIngestQuery(spark, tiny)
      val pq = Tables.documents(spark, tiny)
      assert(surv.exceptAll(pq).count() === 0 &&
        pq.exceptAll(surv).count() === 0)
    } finally raw.unpersist(): Unit
  }

  test("full-width barrier matters: a pruned read would admit the nested type-drift line") {
    // document the hazard the barrier in dirtyIngestQuery closes: when
    // only top-level scalars are required, the parser never touches
    // `meta`, so the scalar-where-struct line parses clean. If Spark
    // ever changes this to whole-record validation the barrier can go.
    // (collect a 2-col projection: an aggregate would prune the data
    // column away entirely and trip Spark's only-corrupt-column guard)
    val dirty = JsonlStage.stageDirty(spark, tiny)
    val pruned = JsonlStage.readJsonlDirty(spark, dirty)
      .select(col("doc_id"), col("_corrupt"))
      .collect().count(_.isNullAt(1))
    val full = Tables.documents(spark, tiny).count()
    assert(pruned > full,
      "expected the pruned parse to admit ≥1 injected line — hazard gone?")
  }

  test("reject audit counts corrupt vs surviving from one read") {
    val out = JsonlStage.dirtyAuditQuery(spark, tiny).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getString(0) === "documents")
    assert(r.getLong(1) === JsonlStage.NCorrupt.toLong)
    assert(r.getLong(2) === Tables.documents(spark, tiny).count())
  }
}
