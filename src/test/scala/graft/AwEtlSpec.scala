package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.etl.Star
import graft.etl.aw.{AwEtl, AwSchemas}
import graft.kpi.Kpis

/** Reference-parity tests on the REAL AdventureWorks CSVs where present
  * (row counts from the reference's run logs, BASELINE.md) and on
  * FIXTURES.md edge-case fixtures where the snapshot lacks the inputs
  * (Person Person, SalesOrderHeader/Detail).
  */
class AwEtlSpec extends SparkSpec {
  import spark.implicits._

  private def rd(name: String, s: org.apache.spark.sql.types.StructType) =
    AwEtl.readCsv(spark, s"$awData/$name.csv", s)

  // Synthetic Person rows (snapshot is missing Person Person.csv)
  private lazy val person = Seq(
    (274, "Stephen", Some("Y"), "Jiang"),
    (275, "Michael", None, "Blythe"),       // null middle name → '  ' collapse
    (10963, "Ana", Some("M"), "Silva"))
    .toDF("BusinessEntityID", "FirstName", "MiddleName", "LastName")
    .select(col("BusinessEntityID"), lit("IN").as("PersonType"),
      lit("0").as("NameStyle"), lit(null).cast("string").as("Title"),
      col("FirstName"), col("MiddleName"), col("LastName"),
      lit(null).cast("string").as("Suffix"), lit(0).as("EmailPromotion"),
      lit(null).cast("string").as("AdditionalContactInfo"),
      lit(null).cast("string").as("Demographics"),
      lit(null).cast("string").as("rowguid"),
      lit(null).cast("string").as("ModifiedDate"))

  test("dim_produto: 504 rows from real CSVs, null repair applied") {
    val dim = AwEtl.dimProduto(
      rd("Production Product", AwSchemas.product),
      rd("Production ProductSubcategory", AwSchemas.productSubcategory),
      rd("Production ProductCategory", AwSchemas.productCategory))
    assert(dim.count() === 504)
    // 209 products have no subcategory (FIXTURES.md) → repaired label
    assert(dim.filter($"nome_subcategoria" === "Sem Subcategoria").count() === 209)
    assert(dim.filter($"categoria" === "Sem Categoria").count() === 209)
    assert(dim.filter($"cor".isNull).count() === 0)
    // SKs contiguous from 1
    val Row(mn: Int, mx: Int, n: Long) = dim
      .agg(min("sk_produto"), max("sk_produto"), countDistinct("sk_produto"))
      .head()
    assert((mn, mx, n) === ((1, 504, 504L)))
  }

  test("dim_localidade: 19,614 rows, two-level geo join") {
    val dim = AwEtl.dimLocalidade(
      rd("Person Address", AwSchemas.address),
      rd("Person StateProvince", AwSchemas.stateProvince),
      rd("Person CountryRegion", AwSchemas.countryRegion))
    assert(dim.count() === 19614)
    assert(dim.filter($"pais" === "Não Informado").count() === 0)
    assert(dim.select("pais").distinct().count() > 1)
  }

  test("dim_tempo: 5,844 days 2010-2025, smart keys and pt-BR month names") {
    val dim = AwEtl.dimTempo(spark)
    assert(dim.count() === 5844)
    val may20 = dim.filter($"sk_tempo" === 20230520).head()
    assert(may20.getAs[String]("nome_mes") === "Maio")
    assert(may20.getAs[Int]("trimestre") === 2)
    assert(may20.getAs[Int]("semestre") === 1)
    assert(dim.filter($"semestre" === 2).count() === dim.filter(month($"data_completa") > 6).count())
  }

  test("dim_cliente: store customer (null PersonID) → corporate label") {
    val customer = Seq((1, Some(10963)), (2, None), (3, Some(99999)))
      .toDF("CustomerID", "PersonID")
      .withColumn("StoreID", lit(null).cast("int"))
    val dim = AwEtl.dimCliente(customer, person).orderBy("id_cliente_original")
    val rows = dim.collect()
    assert(rows.length === 3)
    assert(rows(0).getAs[String]("nome_completo") === "Ana Silva")
    assert(rows(0).getAs[String]("tipo_cliente") === "Individual")
    assert(rows(1).getAs[String]("nome_completo") === "Cliente Corporativo / Loja")
    assert(rows(1).getAs[String]("tipo_cliente") === "Store")
    // PersonID set but unmatched in person: left join null names → corporate
    assert(rows(2).getAs[String]("nome_completo") === "Cliente Corporativo / Loja")
    assert(rows(2).getAs[String]("tipo_cliente") === "Individual")
  }

  test("dim_cliente second load MERGES via the SCD2 kernel instead of truncate-reloading") {
    // first load: the real 19,820-row Sales Customer.csv (person fixture
    // for the names), opened as the initial version table
    val dim = AwEtl.dimCliente(rd("Sales Customer", AwSchemas.customer), person)
    val cur = AwEtl.dimVersions("dim_cliente", dim)
    val n = cur.count()
    // second load: a source change re-types every 7th customer and one
    // brand-new customer appears (1000003 is not divisible by 7)
    val surface = dim.select("id_cliente_original", "nome_completo", "tipo_cliente")
    val updates = surface
      .withColumn("tipo_cliente",
        when(col("id_cliente_original") % 7 === 0, lit("Reclassificado"))
          .otherwise(col("tipo_cliente")))
      .unionByName(Seq((1000003, "Cliente Novo", "Individual"))
        .toDF("id_cliente_original", "nome_completo", "tipo_cliente"))
    val merged = AwEtl.dimScd2("dim_cliente", cur, updates, "2013-06-01")
    val changedN = surface.filter(col("id_cliente_original") % 7 === 0).count()
    assert(changedN > 0)
    // merge, not truncate-reload: old versions survive — |dim| rows plus
    // one closed version per changed key plus the brand-new open row
    assert(merged.count() === n + changedN + 1)
    // the unchanged majority passes through still open since the epoch
    assert(merged.filter(col("vigente") &&
        col("valid_from") === lit("2011-01-01").cast("date")).count()
      === n - changedN)
    // changed keys: closed old version at the load date + reopened new one
    val changed = merged.filter(col("id_cliente_original") % 7 === 0 &&
      col("id_cliente_original") =!= 1000003)
    assert(changed.filter(!col("vigente") &&
      col("valid_to") === lit("2013-06-01").cast("date")).count() === changedN)
    assert(changed.filter(col("vigente") &&
      col("tipo_cliente") === "Reclassificado").count() === changedN)
    // the brand-new customer opens at the load date
    val nv = merged.filter(col("id_cliente_original") === 1000003).collect()
    assert(nv.length === 1 && nv(0).getAs[Boolean]("vigente") &&
      nv(0).getAs[java.sql.Date]("valid_from").toString === "2013-06-01")
  }

  test("generic AW dim SCD2: a second load of produto/localidade/vendedor merges instead of truncating") {
    import graft.etl.aw.AwEtl.dimScd2Surface
    val dims: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "dim_produto" -> AwEtl.dimProduto(
        rd("Production Product", AwSchemas.product),
        rd("Production ProductSubcategory", AwSchemas.productSubcategory),
        rd("Production ProductCategory", AwSchemas.productCategory)),
      "dim_localidade" -> AwEtl.dimLocalidade(
        rd("Person Address", AwSchemas.address),
        rd("Person StateProvince", AwSchemas.stateProvince),
        rd("Person CountryRegion", AwSchemas.countryRegion)),
      "dim_vendedor" -> AwEtl.dimVendedor(
        rd("Sales SalesPerson", AwSchemas.salesPerson),
        rd("HumanResources Employee", AwSchemas.employee),
        person))
    dims.foreach { case (name, dim) =>
      val (key, attrs) = dimScd2Surface(name)
      val cur = AwEtl.dimVersions(name, dim)
      val n = cur.count()
      val surface = dim.select((key +: attrs).map(col): _*)
      // the new load changes the FIRST tracked attribute on every 5th
      // key and one brand-new key appears
      val changedPred = col(key) % 5 === 0
      val updates = surface
        .withColumn(attrs.head,
          when(changedPred, concat(lit("ALTERADO "), col(attrs.head)))
            .otherwise(col(attrs.head)))
        .unionByName(surface.limit(1).select(
          lit(9000001).cast("int").as(key) +:
            attrs.map(a => lit("Novo").as(a)): _*))
      val merged = AwEtl.dimScd2(name, cur, updates, "2013-06-01")
      val changedN = surface.filter(changedPred).count()
      assert(changedN > 0, s"$name: perturbation must touch some keys")
      // merge, not truncate-reload: |dim| rows + one closed version per
      // changed key + the brand-new open row
      assert(merged.count() === n + changedN + 1, s"$name merged count")
      assert(merged.filter(col("vigente") &&
          col("valid_from") === lit("2011-01-01").cast("date")).count()
        === n - changedN, s"$name unchanged rows must stay open since epoch")
      assert(merged.filter(!col("vigente") &&
        col("valid_to") === lit("2013-06-01").cast("date")).count()
        === changedN, s"$name changed keys must close at the load date")
      val nv = merged.filter(col(key) === 9000001).collect()
      assert(nv.length === 1 && nv(0).getAs[Boolean]("vigente"),
        s"$name brand-new key must open fresh")
    }
  }

  test("dim_vendedor: 17 rows from real CSVs; empty middle name collapses") {
    val dim = AwEtl.dimVendedor(
      rd("Sales SalesPerson", AwSchemas.salesPerson),
      rd("HumanResources Employee", AwSchemas.employee),
      person)
    assert(dim.count() === 17)
    val byId = dim.collect().map(r =>
      r.getAs[Int]("id_vendedor_original") -> r.getAs[String]("nome_vendedor")).toMap
    assert(byId(274) === "Stephen Y Jiang")
    assert(byId(275) === "Michael Blythe") // null middle → single space
    // salespeople not in the synthetic person table: name empty after trim
    assert(byId(276) === "")
    assert(dim.filter($"cargo".isNotNull).count() === 17) // employee join hit
  }

  test("fato_vendas: joins, metrics, null-key prune (FIXTURES edge cases)") {
    val header = Seq(
      (100, "2011-05-31 00:00:00", 1, Some(274), 900),
      (101, "2012-01-15 00:00:00", 2, None, 901), // online order: null seller
      (102, "2013-07-01 00:00:00", 3, Some(275), 999)) // address 999 unmatched
      .toDF("SalesOrderID", "OrderDate", "CustomerID", "SalesPersonID", "ShipToAddressID")
    val detail = Seq(
      (100, 1, 1, 2, 10.0, 0.10),   // product 1: desconto 2.00, total 18.00
      (100, 2, 2, 1, 99.99, 0.0),
      (100, 3, 3, 5, 5.0, 0.0),     // product 3 not in dim → dropped
      (101, 4, 1, 5, 5.0, 0.0),     // online order line (null seller)
      (102, 5, 2, 4, 2.5, 0.02))
      .toDF("SalesOrderID", "SalesOrderDetailID", "ProductID", "OrderQty",
        "UnitPrice", "UnitPriceDiscount")
    val dimP = Seq((1, 1), (2, 2)).toDF("sk_produto", "id_produto_original")
    val dimC = Seq((1, 1), (2, 2), (3, 3)).toDF("sk_cliente", "id_cliente_original")
    val dimV = Seq((1, 274), (2, 275)).toDF("sk_vendedor", "id_vendedor_original")
    val dimL = Seq((1, 900), (2, 901)).toDF("sk_localidade", "id_localidade_original")

    val fato = Star.fatoVendasOver(AwEtl.orderLines(header, detail), AwEtl.Fact,
        dimP, dimC, dimV, dimL)
      .orderBy("sk_tempo", "sk_produto")
    val rows = fato.collect()
    assert(rows.length === 4) // product-3 line pruned

    val r0 = rows(0) // order 100, product 1
    assert(r0.getAs[Int]("sk_tempo") === 20110531)
    assert(r0.getAs[java.math.BigDecimal]("valor_desconto").doubleValue() === 2.00)
    assert(r0.getAs[java.math.BigDecimal]("valor_total").doubleValue() === 18.00)

    val online = rows.find(_.getAs[Int]("sk_tempo") === 20120115).get
    assert(online.isNullAt(online.fieldIndex("sk_vendedor"))) // survives prune

    val unmatchedAddr = rows.find(_.getAs[Int]("sk_tempo") === 20130701).get
    assert(unmatchedAddr.isNullAt(unmatchedAddr.fieldIndex("sk_localidade")))
    // F10/F11 identity: total + desconto == qty * price
    val identity = fato.withColumn("lhs",
        $"valor_total" + $"valor_desconto")
      .withColumn("rhs", $"valor_bruto")
      .filter(abs($"lhs" - $"rhs") > 0.005)
    assert(identity.count() === 0)
  }

  test("KPIs on a fixture fact: values match hand computation") {
    val dimP = Seq((1, 1, "Bike A", "Bikes"), (2, 2, "Helmet", "Accessories"))
      .toDF("sk_produto", "id_produto_original", "nome_produto", "categoria")
    val fato = Seq(
      (1, 2, 20.0, 2.0, 18.0),
      (1, 1, 99.99, 0.0, 99.99),
      (2, 4, 10.0, 0.2, 9.8))
      .toDF("sk_produto", "qtd_vendida", "valor_bruto", "valor_desconto", "valor_total")
    val k1 = Kpis.kpi1FaturamentoBruto(fato).head().getDouble(0)
    assert(k1 === 2 * 10.0 + 1 * 99.99 + 4 * 2.5) // 129.99
    val k6 = Kpis.kpi6VendasPorCategoria(fato, dimP).collect()
    assert(k6.head.getAs[String]("categoria") === "Bikes")
    assert(k6.head.getDouble(1) === 117.99)
    assert(k6.head.getAs[Long]("quantidade_vendas") === 2L)
    val k10 = Kpis.kpi10TicketMedio(fato).head().getDouble(0)
    assert(math.abs(k10 - (18.0 + 99.99 + 9.8) / 3) < 1e-9)
  }
}
