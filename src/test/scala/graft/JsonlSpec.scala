package graft

import org.apache.spark.sql.types._

/** JSONL (one JSON object per line) — the interchange format LLM corpora
  * actually ship in. Spark's native json source covers it; this spec pins
  * the round trip on the documents table: schema-on-read (no inference at
  * scale — an explicit StructType, same discipline as the CSV sources),
  * unicode text preserved exactly, and per-line independence (the format
  * splits at newlines, so a 100 TB corpus reads with normal file
  * parallelism — no multiline mode).
  */
class JsonlSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("documents round-trip through JSONL bit-exactly, with zh text intact") {
    val out = s"${Scratch.tempDir("graft_jsonl_")}/out"
    val docs = Tables.documents(spark, tiny)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text", "lang",
        "source", "CAST(n_chars AS BIGINT) AS n_chars")
    docs.coalesce(1).write.json(out) // one object per line
    val back = spark.read.schema(schema).json(out)
    assert(back.schema == schema, "explicit schema must win over inference")
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = back.orderBy("doc_id").collect().toSeq
    assert(a == b, "JSONL round trip must be lossless")
    // the zh docs carry multi-byte unicode — the exact-equality above
    // already covers them, but assert presence so corpus drift can't
    // silently vacuous-pass this
    assert(a.exists(_.getAs[String]("lang") == "zh"))
    // corrupt-line posture: PERMISSIVE (default) surfaces the bad row
    // as a flagged record rather than failing the 100 TB job (a
    // hand-written file — appending to a Spark-written part would
    // invalidate its .crc sidecar and fail the read outright)
    val badDir = new java.io.File(out + "_bad")
    badDir.mkdirs()
    val w = new java.io.PrintWriter(
      new java.io.File(badDir, "data.json"), "UTF-8")
    w.println("""{"doc_id":1,"text":"a b","lang":"en","source":"s","n_chars":3}""")
    w.println("{not json")
    w.close()
    val read = spark.read.schema(
        schema.add("_corrupt_record", StringType))
      .json(badDir.getPath)
    // materialize full rows first: Spark disallows queries touching
    // ONLY the corrupt column over a raw JSON source
    val rows = read.collect()
    assert(rows.length == 2)
    assert(rows.count(_.getAs[String]("_corrupt_record") != null) == 1,
      "the corrupt line must surface as a flagged row, not a job failure")
  }
}
