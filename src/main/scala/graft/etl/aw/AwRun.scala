package graft.etl.aw

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sink.Sink

/** CLI entry for the reference-parity pipeline: builds the full DW from an
  * AdventureWorks CSV directory, writes parquet sinks, prints row counts
  * (BASELINE.md targets) and the 10 KPIs.
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
  * dims, exactly like the reference's DAG ordering. See README.md for the
  * DAG sketch.
  *
  * The 2026-01-28 reference snapshot is missing three inputs
  * (.MISSING_LARGE_BLOBS: Person Person, SalesOrderHeader/Detail); when a
  * file is absent a deterministic FIXTURES.md-shaped stand-in is generated
  * so the full fact path still executes.
  */
object AwRun {
  val Tables: Seq[String] = Seq("dim_produto", "dim_cliente", "dim_localidade",
    "dim_vendedor", "dim_tempo", "fato_vendas")

  def main(args: Array[String]): Unit = {
    val tableArg: Option[String] = args.indexOf("--table") match {
      case -1 => None
      case i if i + 1 < args.length => Some(args(i + 1))
      case _ => sys.error("--table requires a table name")
    }
    val positional = {
      val i = args.indexOf("--table")
      if (i == -1) args.toSeq else args.toSeq.patch(i, Nil, 2)
    }
    val csvDir = if (positional.nonEmpty) positional(0) else "/root/reference/dags/data"
    val outDir = if (positional.length > 1) positional(1) else "/tmp/aw_dw"
    val spark = graft.GraftSession.open(csvDir)
    import spark.implicits._

    def missing(name: String) = !new java.io.File(s"$csvDir/$name.csv").exists()

    // Deterministic stand-ins for snapshot-missing inputs (FIXTURES.md ⟂)
    lazy val person = if (missing("Person Person")) Some {
      spark.range(1, 20001).select(
        col("id").cast("int").as("BusinessEntityID"),
        lit("IN").as("PersonType"), lit("0").as("NameStyle"),
        lit(null).cast("string").as("Title"),
        concat(lit("Nome"), col("id")).as("FirstName"),
        when(col("id") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("M"), col("id") % 7)).as("MiddleName"),
        concat(lit("Sobrenome"), col("id")).as("LastName"),
        lit(null).cast("string").as("Suffix"), lit(0).as("EmailPromotion"),
        lit(null).cast("string").as("AdditionalContactInfo"),
        lit(null).cast("string").as("Demographics"),
        lit(null).cast("string").as("rowguid"),
        lit(null).cast("string").as("ModifiedDate"))
    } else None

    // Sample fact foreign keys from the REAL business-key domains (AW keys
    // are sparse — CustomerID starts at 11000, ProductID has gaps), so the
    // SK lookups exercise real match behavior instead of mass-pruning.
    def keyDomain(df: DataFrame, keyCol: String): DataFrame =
      graft.etl.SurrogateKeys.dense(
        df.select(col(keyCol)).distinct(), "rn", Seq(col(keyCol)))

    lazy val header = if (missing("Sales SalesOrderHeader")) Some {
      val custs = keyDomain(AwEtl.readCsv(spark,
        s"$csvDir/Sales Customer.csv", AwSchemas.customer), "CustomerID")
      val addrs = keyDomain(AwEtl.readCsv(spark,
        s"$csvDir/Person Address.csv", AwSchemas.address), "AddressID")
      val nCust = custs.count()
      val nAddr = addrs.count()
      spark.range(43659, 43659 + 31465)
        .withColumn("crn", (col("id") % nCust + 1).cast("int"))
        .withColumn("arn", (col("id") % nAddr + 1).cast("int"))
        .join(broadcast(custs).withColumnRenamed("rn", "crn"), Seq("crn"))
        .join(broadcast(addrs).withColumnRenamed("rn", "arn"), Seq("arn"))
        .select(
          col("id").cast("int").as("SalesOrderID"),
          date_format(
            date_add(lit("2011-05-31").cast("date"), (col("id") % 1300).cast("int")),
            "yyyy-MM-dd 00:00:00").as("OrderDate"),
          col("CustomerID"),
          when(col("id") % 4 === 0, (col("id") % 17 + 274).cast("int"))
            .otherwise(lit(null).cast("int")).as("SalesPersonID"),
          col("AddressID").as("ShipToAddressID"))
    } else None

    lazy val detail = if (missing("Sales SalesOrderDetail")) Some {
      val prods = keyDomain(AwEtl.readCsv(spark,
        s"$csvDir/Production Product.csv", AwSchemas.product), "ProductID")
      val nProd = prods.count()
      spark.range(121317)
        .withColumn("prn", (col("id") % nProd + 1).cast("int"))
        .join(broadcast(prods).withColumnRenamed("rn", "prn"), Seq("prn"))
        .select(
          (col("id") % 31465 + 43659).cast("int").as("SalesOrderID"),
          col("id").cast("int").as("SalesOrderDetailID"),
          (col("id") % 4 + 1).cast("int").as("OrderQty"),
          col("ProductID"),
          (round(col("id") % 2000 * 1.37 + 3.99, 2)).as("UnitPrice"),
          when(col("id") % 10 === 0, 0.05).otherwise(0.0).as("UnitPriceDiscount"))
    } else None

    // ---- orchestrated mode: one table per invocation (Airflow-task shape)
    def buildSingle(t: String): DataFrame = {
      def rd(n: String, sch: org.apache.spark.sql.types.StructType) =
        AwEtl.readCsv(spark, s"$csvDir/$n.csv", sch)
      lazy val personDf = person.getOrElse(rd("Person Person", AwSchemas.person))
      t match {
        case "dim_produto" => AwEtl.dimProduto(
          rd("Production Product", AwSchemas.product),
          rd("Production ProductSubcategory", AwSchemas.productSubcategory),
          rd("Production ProductCategory", AwSchemas.productCategory))
        case "dim_cliente" => AwEtl.dimCliente(
          rd("Sales Customer", AwSchemas.customer), personDf)
        case "dim_localidade" => AwEtl.dimLocalidade(
          rd("Person Address", AwSchemas.address),
          rd("Person StateProvince", AwSchemas.stateProvince),
          rd("Person CountryRegion", AwSchemas.countryRegion))
        case "dim_vendedor" => AwEtl.dimVendedor(
          rd("Sales SalesPerson", AwSchemas.salesPerson),
          rd("HumanResources Employee", AwSchemas.employee), personDf)
        case "dim_tempo" => AwEtl.dimTempo(spark)
        case "fato_vendas" =>
          // dims come back from the SINK, not the in-session plan — the
          // task-boundary read-back of the reference's fact DAG
          // (dags/etl_fato_vendas.py:21-24 reads the SK maps from Postgres)
          def dim(n: String) = spark.read.parquet(s"$outDir/$n")
          AwEtl.fatoVendas(
            header.getOrElse(rd("Sales SalesOrderHeader", AwSchemas.salesOrderHeader)),
            detail.getOrElse(rd("Sales SalesOrderDetail", AwSchemas.salesOrderDetail)),
            dim("dim_produto"), dim("dim_cliente"), dim("dim_vendedor"),
            dim("dim_localidade"))
        case other =>
          sys.error(s"unknown table '$other' — expected one of ${Tables.mkString(", ")}")
      }
    }
    tableArg.foreach { t =>
      val t0 = System.nanoTime()
      Sink.parquet(buildSingle(t), s"$outDir/$t")
      val n = spark.read.parquet(s"$outDir/$t").count()
      println(f"$t%-16s $n%,10d rows sunk in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.stop()
      return
    }

    val t0 = System.nanoTime()
    val dw = AwEtl.pipeline(spark, csvDir, person, header, detail)
    // all six tables are independent jobs in single-plan mode (the fact
    // consumes the dims in-plan, not via the sink) — submit concurrently
    // like the reference's parallel DAGs instead of serializing overheads
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(dw.toSeq.map { case (name, df) =>
        Future(Sink.parquet(df, s"$outDir/$name"))
      }), Duration.Inf)
    }
    val counts = dw.map { case (name, _) =>
      name -> spark.read.parquet(s"$outDir/$name").count()
    }
    val buildSec = (System.nanoTime() - t0) / 1e9
    counts.toSeq.sortBy(_._1).foreach { case (n, c) => println(f"$n%-16s $c%,10d rows") }
    println(f"DW build+sink wall time: $buildSec%.2f s")

    val fato = spark.read.parquet(s"$outDir/fato_vendas")
    val dimP = spark.read.parquet(s"$outDir/dim_produto")
    val dimL = spark.read.parquet(s"$outDir/dim_localidade")
    val dimV = spark.read.parquet(s"$outDir/dim_vendedor")
    val dimT = spark.read.parquet(s"$outDir/dim_tempo")
    val t1 = System.nanoTime()
    println("KPI1  " + AwEtl.Kpi.kpi1(fato).head())
    println("KPI2  " + AwEtl.Kpi.kpi2(fato).head())
    println("KPI3  " + AwEtl.Kpi.kpi3(fato).head())
    println("KPI4  " + AwEtl.Kpi.kpi4(fato).head())
    println("KPI5  " + AwEtl.Kpi.kpi5(fato, dimP).collect().mkString(" | "))
    println("KPI6  " + AwEtl.Kpi.kpi6(fato, dimP).collect().mkString(" | "))
    println("KPI7  " + AwEtl.Kpi.kpi7(fato, dimL).take(5).mkString(" | "))
    println("KPI8  " + AwEtl.Kpi.kpi8(fato, dimT).take(4).mkString(" | "))
    println("KPI9  " + AwEtl.Kpi.kpi9(fato, dimV).take(3).mkString(" | "))
    println("KPI10 " + AwEtl.Kpi.kpi10(fato).head())
    println(f"KPI suite wall time: ${(System.nanoTime() - t1) / 1e9}%.2f s")
    spark.stop()
  }
}
