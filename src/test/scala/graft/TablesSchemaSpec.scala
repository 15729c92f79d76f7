package graft

import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Pins the loader contract: every event-time/date column the engine relies
  * on is TimestampType after loading, regardless of how the generator wrote
  * it (nanos-as-long, timestamp[us] with or without isAdjustedToUTC). A
  * generator change that breaks this must fail HERE, loudly, not as five
  * scattered DATATYPE_MISMATCH / watermark analysis errors downstream
  * (the round-11 regression).
  */
class TablesSchemaSpec extends SparkSpec {
  private val expected = Seq(
    ("events",   Tables.events _,   "ts"),
    ("orders",   Tables.orders _,   "o_orderdate"),
    ("lineitem", Tables.lineitem _, "l_shipdate"))

  for ((name, loader, col) <- expected)
    test(s"$name.$col loads as TimestampType") {
      val dt = loader(spark, tiny).schema(col).dataType
      assert(dt == TimestampType, s"$name.$col is $dt, expected TimestampType")
    }

  // the declared star schemas skip inference, so a generator change
  // that drifts from them must fail here, not mid-build
  test("declared star schemas equal the inferred parquet schemas and the staged CSV DDL") {
    assert(Tables.StarSchemas.keySet == Set("region", "nation", "customer",
      "supplier", "part", "orders", "lineitem"))
    val staged = graft.etl.CsvStage.stage(spark, tiny)
    for ((t, declared) <- Tables.StarSchemas) {
      assert(declared == spark.read.parquet(s"$tiny/$t.parquet").schema,
        s"$t: declared schema differs from the one Spark infers")
      val loaded = StructType(declared.fields.map(f =>
        if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType) else f))
      val ddl = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$staged/$t.schema")), "UTF-8")
      assert(loaded.toDDL == ddl, s"$t: declared schema differs from the staged CSV DDL")
    }
  }

  test("no loader column is TIMESTAMP_NTZ") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (t <- tables; f <- Tables.table(spark, tiny, t).schema.fields)
      assert(f.dataType != TimestampNTZType, s"$t.${f.name} is TIMESTAMP_NTZ")
  }
}
