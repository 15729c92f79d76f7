package graft.etl.aw

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.StarBench

/** CLI entry for the reference-parity pipeline: builds the DW from an
  * AdventureWorks CSV directory through the star pipeline the benchmark
  * measures (`StarBench.buildTo`/`publish` over [[AwEtl.source]]), then
  * prints the 10 reference KPIs from `StarBench.kpiSuite`.
  *
  * Usage:
  *   runMain graft.etl.aw.AwRun [csvDir] [outDir]            — full build
  *   runMain graft.etl.aw.AwRun --table <name> [csvDir] [outDir]
  *
  * `--table` is the ORCHESTRATED deployment surface: one invocation builds
  * and sinks exactly one DW table, mirroring the reference's six separate
  * Airflow DAGs run "Dimensões → Fato" (README.md:113; one spark-submit
  * per task). The five dims are independent (an orchestrator runs them in
  * parallel); `fato_vendas` reads the dim SK maps back from the sink —
  * the same read-back its Postgres counterpart does
  * (dags/etl_fato_vendas.py:21-24) — so it must be scheduled after the
  * dims, exactly like the reference's DAG ordering. The full build is the
  * same six steps in one process. See README.md for the DAG sketch.
  *
  * The 2026-01-28 reference snapshot is missing three inputs
  * (.MISSING_LARGE_BLOBS: Person Person, SalesOrderHeader/Detail); when a
  * file is absent a deterministic FIXTURES.md-shaped stand-in is generated
  * so the full fact path still executes.
  */
object AwRun {
  val Tables: Seq[String] = Seq("dim_produto", "dim_cliente", "dim_localidade",
    "dim_vendedor", "dim_tempo", "fato_vendas")

  /** The ten queries of the reference's KPIs.sql among `kpiSuite`'s
    * entries (KPI 7 is the ship-side `kpi7_pais`).
    */
  private val ReferenceKpis = Seq("kpi1", "kpi2", "kpi3", "kpi4", "kpi5",
    "kpi6", "kpi7_pais", "kpi8", "kpi9", "kpi10")

  /** `args` as (table to publish, or None for the full build; CSV dir; DW
    * dir), or the usage error naming [[Tables]].
    */
  def parse(args: Seq[String]): Either[String, (Option[String], String, String)] = {
    val i = args.indexOf("--table")
    val table = if (i == -1) Right(None) else args.lift(i + 1) match {
      case Some(t) if Tables.contains(t) => Right(Some(t))
      case Some(t) => Left(s"unknown table '$t'; expected one of ${Tables.mkString(", ")}")
      case None => Left(s"--table requires a table name, one of ${Tables.mkString(", ")}")
    }
    val positional = if (i == -1) args else args.patch(i, Nil, 2)
    val csvDir = if (positional.nonEmpty) positional(0) else "/root/reference/dags/data"
    val outDir = if (positional.length > 1) positional(1) else "/tmp/aw_dw"
    table.map((_, csvDir, outDir))
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(usage) =>
      System.err.println(usage)
      sys.exit(2)
    case Right((table, csvDir, outDir)) =>
      val spark = graft.GraftSession.open(csvDir)
      try run(spark, table, csvDir, outDir).foreach { case (name, rows) =>
        println(f"$name%-10s ${rows.mkString(" | ")}")
      } finally spark.stop()
  }

  /** Publish `table` of the extract in `csvDir` to `outDir`, or with None
    * build every table and return the 10 reference KPIs' rows.
    */
  def run(spark: SparkSession, table: Option[String], csvDir: String,
          outDir: String): Seq[(String, Array[Row])] = {
    val src = AwEtl.source(spark, input(spark, csvDir))
    table match {
      case Some(t) =>
        StarBench.publish(spark, src, outDir, t)
        Nil
      case None =>
        StarBench.buildTo(spark, src, outDir)
        val suite = StarBench.kpiSuite(spark, outDir).toMap
        ReferenceKpis.map(k => k -> suite(k)().collect())
    }
  }

  /** One extract file: the CSV when `csvDir` has it, else its stand-in. */
  private def input(spark: SparkSession, csvDir: String)(
      name: String, schema: StructType): DataFrame = {
    def csv(n: String, s: StructType) = AwEtl.readCsv(spark, s"$csvDir/$n.csv", s)
    // The (i mod n)-th smallest key of a REAL business-key domain: AW keys
    // are sparse (CustomerID starts at 11000, ProductID has gaps), so the
    // SK lookups exercise real match behavior instead of mass-pruning.
    def pick(n: String, s: StructType, key: String, i: Column): Column = {
      val keys = csv(n, s).select(key).distinct().orderBy(key).collect().map(_.getInt(0))
      element_at(typedLit(keys.toSeq), (i % keys.length + 1).cast("int"))
    }
    val present = new java.io.File(s"$csvDir/$name.csv").exists()
    // Deterministic stand-ins for snapshot-missing inputs (FIXTURES.md ⟂),
    // holding the columns the DAGs read
    name match {
      case _ if present => csv(name, schema)
      case "Person Person" =>
        spark.range(1, 20001).select(
          col("id").cast("int").as("BusinessEntityID"),
          concat(lit("Nome"), col("id")).as("FirstName"),
          when(col("id") % 3 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("M"), col("id") % 7)).as("MiddleName"),
          concat(lit("Sobrenome"), col("id")).as("LastName"))
      case "Sales SalesOrderHeader" =>
        spark.range(43659, 43659 + 31465).select(
          col("id").cast("int").as("SalesOrderID"),
          date_format(
            date_add(lit("2011-05-31").cast("date"), (col("id") % 1300).cast("int")),
            "yyyy-MM-dd 00:00:00").as("OrderDate"),
          pick("Sales Customer", AwSchemas.customer, "CustomerID", col("id"))
            .as("CustomerID"),
          when(col("id") % 4 === 0, (col("id") % 17 + 274).cast("int"))
            .otherwise(lit(null).cast("int")).as("SalesPersonID"),
          pick("Person Address", AwSchemas.address, "AddressID", col("id"))
            .as("ShipToAddressID"))
      case "Sales SalesOrderDetail" =>
        spark.range(121317).select(
          (col("id") % 31465 + 43659).cast("int").as("SalesOrderID"),
          col("id").cast("int").as("SalesOrderDetailID"),
          (col("id") % 4 + 1).cast("int").as("OrderQty"),
          pick("Production Product", AwSchemas.product, "ProductID", col("id"))
            .as("ProductID"),
          round(col("id") % 2000 * 1.37 + 3.99, 2).as("UnitPrice"),
          when(col("id") % 10 === 0, 0.05).otherwise(0.0).as("UnitPriceDiscount"))
      case _ => csv(name, schema)
    }
  }
}
