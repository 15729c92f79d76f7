package graft

import org.apache.spark.sql.functions._

/** Schema-on-read evolution for the parquet lake: a corpus written in
  * waves whose schema GREW between waves (the normal life of a crawl
  * store) must read as one table under mergeSchema, with absent columns
  * null for the old waves and filter pushdown still reaching the scan
  * for the new column.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("mergeSchema unifies grown schemas; pushdown works on the new column") {
    val dir = Scratch.tempDir("graft_schema_evo").resolve("t").toString
    // wave 1: (doc_id, text)
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.parquet(dir)
    // wave 2 adds the quality score the pipeline started emitting later
    Seq((3L, "gamma", 0.9), (4L, "delta", 0.2))
      .toDF("doc_id", "text", "qualidade")
      .write.mode("append").parquet(dir)
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.sorted.toSeq == Seq("doc_id", "qualidade", "text"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows.length == 4)
    assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("qualidade"))),
      "wave-1 rows must surface the evolved column as null")
    // predicate on the evolved column: correct rows AND pushed to the scan
    val q = df.filter(col("qualidade") > 0.5)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(qualidade), GreaterThan(qualidade,0.5)]")
      || scan.contains("GreaterThan(qualidade,0.5)"),
      s"filter on the evolved column must reach the parquet scan:\n$scan")
  }
}
