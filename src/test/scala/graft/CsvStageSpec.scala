package graft

import org.apache.spark.sql.functions._
import graft.etl.{CsvStage, Star}

/** CSV ingest (S1) round-trip invariants. The oracle gate
  * (star_fato_vendas_csv) pins the END result against DuckDB-over-parquet;
  * these specs pin the mechanism — per-table losslessness and the hazards
  * CSV defaults would silently introduce (null vs empty string, embedded
  * delimiters/quotes, microsecond timestamps).
  */
class CsvStageSpec extends SparkSpec {
  import spark.implicits._

  test("staged CSV tables round-trip every sales table exactly") {
    val csv = CsvStage.stage(spark, tiny)
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem").foreach { t =>
      val pq = Tables.table(spark, tiny, t)
      val back = Tables.table(spark, csv, t)
      assert(back.schema === pq.schema, s"$t: schema must survive the trip")
      assert(back.exceptAll(pq).count() === 0 &&
        pq.exceptAll(back).count() === 0, s"$t: rows must survive the trip")
    }
  }

  test("star fact built from CSV == built from parquet") {
    val csv = CsvStage.stage(spark, tiny)
    val a = Star.fatoVendas(spark, tiny)
    val b = Star.fatoVendas(spark, csv)
    assert(b.exceptAll(a).count() === 0 && a.exceptAll(b).count() === 0)
  }

  test("CSV options keep null, empty string, delimiters and quotes distinct") {
    val dir = Scratch.tempDir("graft_csvopt").toString
    val rows = Seq(
      (1L, Some("plain")),
      (2L, None),                       // NULL, not ""
      (3L, Some("")),                   // "", not NULL
      (4L, Some("a,b,\"c\" d")),        // embedded comma + quotes
      (5L, Some(" pad  ")))             // padding must not be trimmed
    rows.toDF("k", "v").write.options(CsvStage.Opts).csv(s"$dir/t.csv")
    val back = spark.read.schema("k BIGINT, v STRING").options(CsvStage.Opts)
      .csv(s"$dir/t.csv").as[(Long, Option[String])].collect().sortBy(_._1)
    assert(back.toSeq === rows.sortBy(_._1))
  }

  test("stage refuses a value equal to the null token instead of corrupting it") {
    // CSV cannot carry a literal string equal to nullValue (the reader
    // nulls it even quoted) — the stage must fail loudly, not round-trip
    // Some("\N") into None
    val df = Seq((1L, "ok"), (2L, "\\N")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      CsvStage.assertNoNullToken(df, "t")
    }
    assert(e.getMessage.contains("null token"))
    CsvStage.assertNoNullToken(Seq((1L, "ok")).toDF("k", "v"), "t")
  }

  test("dirty staging: PERMISSIVE read rejects every injected malformation, keeps every real row") {
    val dirty = CsvStage.stageDirty(spark, tiny)
    val raw = CsvStage.readCsvDirty(spark, dirty, "lineitem").cache()
    try {
      val corrupt = raw.filter(col("_corrupt").isNotNull)
      // all six kinds rejected: arity 1 / arity short / bad integer /
      // bad timestamp / arity long / bad double
      assert(corrupt.count() === CsvStage.NCorrupt.toLong)
      val raws = corrupt.select("_corrupt").collect().map(_.getString(0))
      assert(raws.exists(_ == "x"), "arity-1 line captured verbatim")
      assert(raws.exists(_ == "1,2"), "short line captured verbatim")
      assert(raws.exists(_.contains("notanumber")), "bad integer line")
      assert(raws.exists(_.contains("never-oclock")), "bad timestamp line")
      assert(raws.exists(_.endsWith(",extra")), "long line")
      assert(raws.exists(_.contains("12.5abc")), "bad double line")
      // survivors are EXACTLY the clean table
      val clean = Tables.table(spark, tiny, "lineitem")
      val surv = raw.filter(col("_corrupt").isNull).drop("_corrupt")
      assert(surv.count() === clean.count())
      assert(surv.exceptAll(clean).count() === 0 &&
        clean.exceptAll(surv).count() === 0)
    } finally raw.unpersist(): Unit
  }
}
