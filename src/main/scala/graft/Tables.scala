package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata star schema (TESTDATA.md).
  *
  * All tables are parquet; schemas are fixed by the generator. The seven
  * star source tables are read with their schemas DECLARED here
  * ([[StarSchemas]], exactly the types the generator writes, pinned
  * against the files by TablesSchemaSpec): a parquet read without a
  * schema runs one footer-inference Spark job, and the star build reads
  * these tables on every dimension build and refresh. The other tables
  * (events, documents, embeddings) keep schema-on-file — parquet is
  * self-describing, so inference is deterministic, only slower. Column
  * pruning + predicate pushdown reach the scan automatically because
  * every downstream transform is declarative.
  */
object Tables {
  /** The star source tables' schemas as the generator writes them: int32
    * geo keys, int64 business keys, double money, and `timestamp[us]`
    * without `isAdjustedToUTC`, i.e. TIMESTAMP_NTZ (relabelled by
    * [[normalizeNtz]] like an inferred one).
    */
  private[graft] val StarSchemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ")
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** Parquet by default; a dir staged by [[graft.etl.CsvStage]] (CSV files
    * + saved schemas, no parquet) routes to the schema-directed CSV read —
    * which lets every Star/KPI builder run unchanged over the reference's
    * primary input format (CSV, dags/etl_dim_produto.py:14-16).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (new java.io.File(s"$dir/$name.parquet").exists() ||
        !new java.io.File(s"$dir/$name.csv").exists())
      normalizeNtz(StarSchemas.get(name).fold(spark.read)(spark.read.schema(_))
        .parquet(s"$dir/$name.parquet"))
    else graft.etl.CsvStage.readCsv(spark, dir, name)

  /** The generator writes parquet `timestamp[us]` WITHOUT `isAdjustedToUTC`,
    * which Spark 4 reads as TIMESTAMP_NTZ. Downstream code (unix_micros,
    * streaming event-time, the java.sql.Timestamp encoders) requires
    * TimestampType; every graft session pins spark.sql.session.timeZone=UTC,
    * so this cast is a bit-exact relabel, never a wall-clock shift.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val ntz = df.schema.fields.collect { case f if f.dataType == TimestampNTZType => f.name }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, d(c).cast("timestamp")))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark 4 only reads as a
    * long (spark.sql.legacy.parquet.nanosAsLong=true, set in Verify/Bench
    * sessions); convert ns→µs here so downstream code sees TimestampType.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: epoch nanos exceed 2^53, so double
        // division both loses precision and rounds (≈12% of rows get a
        // ±1µs error); truncating div matches DuckDB's ns→µs semantics.
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
