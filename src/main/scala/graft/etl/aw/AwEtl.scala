package graft.etl.aw

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.etl.{Star, SurrogateKeys}

/** Reference-parity ETL over the real AdventureWorks 2019 CSV extract —
  * the dimension builds of Cgmc18/ETL-AirFlow-AdventureWorks as pure
  * DataFrame transforms, and the fact's columns — as a star [[source]]
  * under `Star.DwSchemas`' names, built like the testdata star.
  *
  * Faithfulness notes:
  *  - CSV nulls: pandas reads both `""` and empty fields as NaN; Spark's
  *    nullValue only covers the unquoted case, so [[readCsv]] normalizes
  *    empty strings to null after the scan.
  *  - Surrogate keys: Postgres SERIAL numbers rows by insert order (= CSV
  *    file order); we assign row_number by business key
  *    (`SurrogateKeys.auto`), which coincides because every AW extract is
  *    sorted by its key — and the KPI surface only uses SK equality, never
  *    values (SURVEY.md §7.4).
  *  - Money: computed in DecimalType end-to-end (the reference computes in
  *    float64 and lets Postgres NUMERIC(18,2) round at insert,
  *    dags/etl_fato_vendas.py:83; divergence ≤ 1 cent, documented).
  */
object AwEtl {

  /** S1 CSV scan: header, explicit schema, quoted strings, empty→null
    * (dags/etl_dim_produto.py:14-16 and 12 analogous call sites).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", "")
      .schema(schema)
      .csv(path)
    // pandas parity: quoted empty strings are also null
    raw.select(raw.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType == StringType)
        when(col(f.name) === "", lit(null)).otherwise(col(f.name)).as(f.name)
      else col(f.name)
    }: _*)
  }

  // ------------------------------------------------------------- dims

  /** dim_produto (dags/etl_dim_produto.py:20-40): product ⟕ subcategory ⟕
    * category, project/rename, null repair. pandas' Name_x/Name_y suffixes
    * become explicit aliases.
    */
  def dimProduto(product: DataFrame, subcat: DataFrame, cat: DataFrame): DataFrame = {
    val joined = product
      .join(subcat.select(col("ProductSubcategoryID"), col("ProductCategoryID"),
        col("Name").as("nome_subcategoria")), Seq("ProductSubcategoryID"), "left")
      .join(cat.select(col("ProductCategoryID"), col("Name").as("categoria")),
        Seq("ProductCategoryID"), "left")
      .select(
        col("ProductID").as("id_produto_original"),
        col("Name").as("nome_produto"),
        col("nome_subcategoria"),
        col("categoria"),
        col("Color").as("cor"))
      .na.fill(Map(
        "cor" -> "N/A",
        "nome_subcategoria" -> "Sem Subcategoria",
        "categoria" -> "Sem Categoria"))
    SurrogateKeys.auto(joined, "sk_produto", Seq(col("id_produto_original")))
  }

  /** dim_cliente (dags/etl_dim_cliente.py:16-47): customer ⟕ person on
    * differing key names, name concat with null repair, conditional
    * overwrite, null-test categorical, keyed dedup.
    */
  def dimCliente(customer: DataFrame, person: DataFrame): DataFrame = {
    val joined = customer
      .join(person.select(col("BusinessEntityID"), col("FirstName"), col("LastName")),
        customer("PersonID") === person("BusinessEntityID"), "left")
      .withColumn("nome_completo",
        trim(concat(coalesce(col("FirstName"), lit("")), lit(" "),
          coalesce(col("LastName"), lit("")))))
      .withColumn("nome_completo",
        when(col("nome_completo") === "", "Cliente Corporativo / Loja")
          .otherwise(col("nome_completo")))
      .withColumn("tipo_cliente",
        when(col("PersonID").isNotNull, "Individual").otherwise("Store"))
      .select(col("CustomerID").as("id_cliente_original"),
        col("nome_completo"), col("tipo_cliente"))
      .transform(SurrogateKeys.dedupKeepSmallest(_, "id_cliente_original"))
    SurrogateKeys.auto(joined, "sk_cliente", Seq(col("id_cliente_original")))
  }

  /** The business surface every AW dimension versions under SCD2:
    * (business key, tracked attribute columns). Surrogate keys stay a
    * per-snapshot derivation; the validity columns come from the merge.
    */
  private[graft] val dimScd2Surface: Map[String, (String, Seq[String])] = Map(
    "dim_produto" -> (("id_produto_original",
      Seq("nome_produto", "nome_subcategoria", "categoria", "cor"))),
    "dim_cliente" -> (("id_cliente_original",
      Seq("nome_completo", "tipo_cliente"))),
    "dim_localidade" -> (("id_localidade_original",
      Seq("cidade", "estado", "pais"))),
    "dim_vendedor" -> (("id_vendedor_original",
      Seq("nome_vendedor", "cargo"))))

  /** ANY AW dim's business surface as an SCD2 version table, open since
    * the epoch load — the starting state for INCREMENTAL dimension
    * maintenance over the reference's own star (the reference
    * truncate-reloads every dimension per run, dags/etl_dim_*.py).
    */
  def dimVersions(dimName: String, dim: DataFrame,
      epoch: String = "2011-01-01"): DataFrame = {
    val (key, attrs) = dimScd2Surface(dimName)
    dim.select((key +: attrs).map(col): _*)
      .withColumn("valid_from", lit(epoch).cast("date"))
      .withColumn("valid_to", lit("9999-12-31").cast("date"))
      .withColumn("vigente", lit(true))
  }

  /** A second load of ANY AW dim MERGES instead of truncating: the
    * shared SCD2 kernel (graft.etl.Scd.scd2MergeOn) closes changed keys'
    * current versions and reopens them with the new attributes;
    * unchanged and historical rows pass through untouched; new keys open
    * fresh. `updates` is the business surface of the new load (same
    * columns as [[dimVersions]] minus the validity columns). One generic
    * wrapper — produto, cliente, localidade and vendedor all run the
    * same merge over their [[dimScd2Surface]] row.
    */
  def dimScd2(dimName: String, cur: DataFrame, updates: DataFrame,
      loadDate: String): DataFrame = {
    val (key, attrs) = dimScd2Surface(dimName)
    graft.etl.Scd.scd2MergeOn(cur, updates, key, attrs, loadDate)
  }

  /** dim_localidade (dags/etl_dim_localidade.py:17-56): address ⟕ state ⟕
    * country with pre-join renames, null repair, keyed dedup.
    */
  def dimLocalidade(address: DataFrame, state: DataFrame, country: DataFrame): DataFrame = {
    val joined = address
      .join(state.select(col("StateProvinceID"), col("CountryRegionCode"),
        col("Name").as("Nome_Estado")), Seq("StateProvinceID"), "left")
      .join(country.select(col("CountryRegionCode"), col("Name").as("Nome_Pais")),
        Seq("CountryRegionCode"), "left")
      .select(
        col("AddressID").as("id_localidade_original"),
        col("City").as("cidade"),
        col("Nome_Estado").as("estado"),
        col("Nome_Pais").as("pais"))
      .na.fill(Map(
        "cidade" -> "Desconhecida",
        "estado" -> "Não Informado",
        "pais" -> "Não Informado"))
      .transform(SurrogateKeys.dedupKeepSmallest(_, "id_localidade_original"))
    SurrogateKeys.auto(joined, "sk_localidade", Seq(col("id_localidade_original")))
  }

  /** dim_vendedor (dags/etl_dim_vendedor.py:18-58): salesperson ⟕ employee
    * ⟕ person, 3-part name concat with literal double-space collapse + trim
    * (pandas str.replace('  ', ' ') is non-regex; regexp_replace with the
    * two-space literal pattern has identical left-to-right semantics).
    */
  def dimVendedor(salesPerson: DataFrame, employee: DataFrame, person: DataFrame): DataFrame = {
    val joined = salesPerson
      .join(employee.select(col("BusinessEntityID"), col("JobTitle")),
        Seq("BusinessEntityID"), "left")
      .join(person.select(col("BusinessEntityID"), col("FirstName"),
        col("MiddleName"), col("LastName")), Seq("BusinessEntityID"), "left")
      .withColumn("nome_vendedor",
        trim(regexp_replace(
          concat(coalesce(col("FirstName"), lit("")), lit(" "),
            coalesce(col("MiddleName"), lit("")), lit(" "),
            coalesce(col("LastName"), lit(""))), "  ", " ")))
      .select(col("BusinessEntityID").as("id_vendedor_original"),
        col("nome_vendedor"), col("JobTitle").as("cargo"))
      .transform(SurrogateKeys.dedupKeepSmallest(_, "id_vendedor_original"))
    SurrogateKeys.auto(joined, "sk_vendedor", Seq(col("id_vendedor_original")))
  }

  /** dim_tempo (dags/etl_dim_tempo.py:11-43): generated 2010-2025 calendar
    * — same generator as the testdata star, reference date range.
    */
  def dimTempo(spark: SparkSession): DataFrame =
    Star.dimTempo(spark, "2010-01-01", "2025-12-31")

  /** The four AW dims' DW schemas as a parquet read of what the builders
    * above write returns them (every field nullable, the sk last); the
    * drift test (DwReadSpec) pins them against the written tables.
    * `dim_tempo` and `fato_vendas` are the shared `Star.DwSchemas` ones.
    */
  private[graft] val DwSchemas: Map[String, StructType] = Star.DwSchemas ++ Map(
    "dim_produto" -> ("id_produto_original INT, nome_produto STRING, " +
      "nome_subcategoria STRING, categoria STRING, cor STRING, sk_produto INT"),
    "dim_cliente" -> ("id_cliente_original INT, nome_completo STRING, " +
      "tipo_cliente STRING, sk_cliente INT"),
    "dim_vendedor" -> ("id_vendedor_original INT, nome_vendedor STRING, " +
      "cargo STRING, sk_vendedor INT"),
    "dim_localidade" -> ("id_localidade_original INT, cidade STRING, " +
      "estado STRING, pais STRING, sk_localidade INT")
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  // ------------------------------------------------------------- fact

  /** header ⨝ detail on SalesOrderID (dags/etl_fato_vendas.py:30). */
  def orderLines(header: DataFrame, detail: DataFrame): DataFrame =
    header.join(detail, Seq("SalesOrderID"), "inner")

  /** fato_vendas' columns over [[orderLines]] (dags/etl_fato_vendas.py:
    * 28-106), sk_localidade by ship-to address. `valor_bruto` is
    * OrderQty × (UnitPrice rounded to cents), so KPI 1 equals the
    * reference's SUM(qtd_vendida * valor_unitario).
    */
  val Fact: Star.FactColumns = {
    val price = col("UnitPrice").cast("decimal(19,4)")
    val disc = col("UnitPriceDiscount").cast("decimal(6,4)")
    val qty = col("OrderQty").cast("decimal(9,0)")
    val one = lit("1.0000").cast("decimal(5,4)")
    Star.FactColumns(
      idPedido = col("SalesOrderID"), numeroLinha = col("SalesOrderDetailID"),
      produto = col("ProductID"), cliente = col("CustomerID"),
      vendedor = col("SalesPersonID"), localidade = col("ShipToAddressID"),
      orderDate = to_timestamp(col("OrderDate")), qty = col("OrderQty"),
      bruto = (col("UnitPrice").cast("decimal(18,2)") * qty).cast("decimal(18,2)"),
      desconto = (price * qty * disc).cast("decimal(18,2)"),
      total = (price * qty * (one - disc)).cast("decimal(18,2)"))
  }

  /** The extract as a star source. `csv(name, schema)` reads one extract
    * file by its name (`Production Product`, ...).
    */
  def source(spark: SparkSession,
             csv: (String, StructType) => DataFrame): Star.Source = {
    def person = csv("Person Person", AwSchemas.person)
    Star.Source(
      Seq("dim_produto" -> (() => dimProduto(
          csv("Production Product", AwSchemas.product),
          csv("Production ProductSubcategory", AwSchemas.productSubcategory),
          csv("Production ProductCategory", AwSchemas.productCategory))),
        "dim_cliente" -> (() => dimCliente(
          csv("Sales Customer", AwSchemas.customer), person)),
        "dim_vendedor" -> (() => dimVendedor(
          csv("Sales SalesPerson", AwSchemas.salesPerson),
          csv("HumanResources Employee", AwSchemas.employee), person)),
        "dim_localidade" -> (() => dimLocalidade(
          csv("Person Address", AwSchemas.address),
          csv("Person StateProvince", AwSchemas.stateProvince),
          csv("Person CountryRegion", AwSchemas.countryRegion))),
        "dim_tempo" -> (() => dimTempo(spark))),
      DwSchemas, () => orderLines(csv("Sales SalesOrderHeader", AwSchemas.salesOrderHeader),
        csv("Sales SalesOrderDetail", AwSchemas.salesOrderDetail)),
      Fact)
  }
}
