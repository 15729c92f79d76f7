package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's star-schema ETL (Cgmc18/ETL-AirFlow-AdventureWorks),
  * re-expressed Spark-first over the driver testdata tables.
  *
  * Maps the reference dataflow 1:1 in *capability* (SURVEY.md §2):
  *  - dimProduto    ← dags/etl_dim_produto.py:20-40   (left joins + null repair)
  *  - dimCliente    ← dags/etl_dim_cliente.py:16-47   (join, derive, dedup)
  *    here customer⋈nation⋈region mirrors the two-level geo join of
  *    dags/etl_dim_localidade.py:23-37
  *  - dimVendedor   ← dags/etl_dim_vendedor.py:20-58  (join + name normalize)
  *  - dimTempo      ← dags/etl_dim_tempo.py:11-43     (generated calendar)
  *  - fatoVendas    ← dags/etl_fato_vendas.py:30-101  (header⋈detail + SK
  *    lookups + decimal metrics + null-key prune)
  *
  * Unlike the reference (per-task pandas + Postgres read-back),
  * [[fatoVendas]] is the whole pipeline as ONE lazy Catalyst plan: dims are
  * plain DataFrames consumed by the fact build, so column pruning / filter
  * pushdown / broadcast planning see the entire lineage. The published DW
  * (`graft.StarBench.publish`, over any [[Source]], the AdventureWorks
  * extract included) reads the written dims back instead; both run the
  * one fact kernel, [[fatoVendasOver]].
  *
  * Numeric discipline: money is computed AND stored in exact DecimalType
  * (the reference declares NUMERIC(18,2), create_dw_tables.sql:62-64);
  * doubles appear only at query output edges, after all arithmetic —
  * making results independent of partitioning / aggregation order, which
  * is what lets a 1000-executor run produce bit-identical answers to a
  * single-node oracle.
  */
object Star {
  import graft.Tables._

  /** pt-BR month names — the reference's literal map
    * (dags/etl_dim_tempo.py:30-35); locale formatting deliberately avoided.
    */
  val MonthNamesPt: Map[Int, String] = Map(
    1 -> "Janeiro", 2 -> "Fevereiro", 3 -> "Março", 4 -> "Abril",
    5 -> "Maio", 6 -> "Junho", 7 -> "Julho", 8 -> "Agosto",
    9 -> "Setembro", 10 -> "Outubro", 11 -> "Novembro", 12 -> "Dezembro")

  def monthNamePt(mes: Column): Column =
    MonthNamesPt.foldLeft(lit(null).cast("string")) { case (acc, (m, name)) =>
      when(mes === m, lit(name)).otherwise(acc)
    }

  /** YYYYMMDD smart date key (dags/etl_dim_tempo.py:39-43). */
  def smartDateKey(d: Column): Column =
    (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).cast("int")

  /** Exact-decimal money: double col → DECIMAL(18,2), deterministic. */
  private def money(c: Column): Column = c.cast("decimal(18,2)")

  // ---------------------------------------------------------------- dims

  /** Product dimension: null repair + surrogate key (etl_dim_produto.py). */
  def dimProduto(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir).select(
      col("p_partkey").cast("long").as("id_produto_original"),
      col("p_name").as("nome_produto"),
      coalesce(col("p_brand"), lit("N/A")).as("marca"),
      coalesce(col("p_type"), lit("Sem Categoria")).as("categoria"),
      col("p_size").cast("int").as("tamanho"))
    SurrogateKeys.auto(p, "sk_produto", Seq(col("id_produto_original")))
      .select(col("sk_produto"), col("id_produto_original"), col("nome_produto"),
        col("marca"), col("categoria"), col("tamanho"))
  }

  /** Customer dimension with two-level geography rollup
    * (etl_dim_cliente.py + etl_dim_localidade.py shape): customer ⟕ nation
    * ⟕ region, conditional type derivation, null repair, keyed dedup.
    */
  def dimCliente(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    val joined = c
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(
        c("c_custkey").cast("long").as("id_cliente_original"),
        trim(c("c_name")).as("nome_cliente"),
        when(c("c_acctbal") < 0, lit("Devedor")).otherwise(lit("Regular"))
          .as("tipo_cliente"),
        coalesce(n("n_name"), lit("Não Informado")).as("nacao"),
        coalesce(r("r_name"), lit("Não Informado")).as("regiao"),
        coalesce(c("c_mktsegment"), lit("N/A")).as("segmento"))
    // keep-one dedup by business key (etl_dim_cliente.py:47), pinned to the
    // deterministic smallest row — bare dropDuplicates keeps an arbitrary one
    val deduped = SurrogateKeys.dedupKeepSmallest(joined, "id_cliente_original")
    SurrogateKeys.auto(deduped, "sk_cliente", Seq(col("id_cliente_original")))
      .select(col("sk_cliente"), col("id_cliente_original"), col("nome_cliente"),
        col("tipo_cliente"), col("nacao"), col("regiao"), col("segmento"))
  }

  /** Geography dimension at the finest location grain the testdata offers
    * — the reference's dim_localidade (create_dw_tables.sql:31-38; built by
    * dags/etl_dim_localidade.py:23-37 as address ⟕ stateprovince ⟕
    * countryregion). The testdata has no address table, so the location
    * entity is the supplier site and the two-level geo rollup is
    * supplier ⟕ nation ⟕ region — same join topology, same null repair,
    * same SERIAL surrogate key.
    */
  def dimLocalidade(spark: SparkSession, dir: String): DataFrame = {
    val s = supplier(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    val joined = s
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(
        s("s_suppkey").cast("long").as("id_localidade_original"),
        coalesce(n("n_name"), lit("Não Informado")).as("pais"),
        coalesce(r("r_name"), lit("Não Informado")).as("regiao"))
    SurrogateKeys.auto(joined, "sk_localidade", Seq(col("id_localidade_original")))
      .select(col("sk_localidade"), col("id_localidade_original"), col("pais"),
        col("regiao"))
  }

  /** Salesperson dimension (etl_dim_vendedor.py): join to geo, name
    * whitespace normalization (the reference's double-space collapse + trim,
    * dags/etl_dim_vendedor.py:42-46).
    */
  def dimVendedor(spark: SparkSession, dir: String): DataFrame = {
    val s = supplier(spark, dir)
    val n = nation(spark, dir)
    val joined = s
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"), "left")
      .select(
        s("s_suppkey").cast("long").as("id_vendedor_original"),
        trim(regexp_replace(s("s_name"), "  +", " ")).as("nome_vendedor"),
        coalesce(n("n_name"), lit("Não Informado")).as("nacao"))
    SurrogateKeys.auto(joined, "sk_vendedor", Seq(col("id_vendedor_original")))
      .select(col("sk_vendedor"), col("id_vendedor_original"),
        col("nome_vendedor"), col("nacao"))
  }

  /** Generated calendar dimension (etl_dim_tempo.py:11-43), covering the
    * testdata order-date range. Row generator → date parts → pt-BR month
    * map → semester → YYYYMMDD smart key.
    */
  def dimTempo(spark: SparkSession,
               start: String = "1995-01-01",
               end: String = "2001-12-31"): DataFrame = {
    spark.sql(
      s"SELECT explode(sequence(DATE'$start', DATE'$end', interval 1 day)) AS data_completa")
      .select(
        smartDateKey(col("data_completa")).as("sk_tempo"),
        col("data_completa"),
        year(col("data_completa")).as("ano"),
        month(col("data_completa")).as("mes"),
        monthNamePt(month(col("data_completa"))).as("nome_mes"),
        quarter(col("data_completa")).as("trimestre"),
        when(month(col("data_completa")) <= 6, 1).otherwise(2).as("semestre"))
  }

  // ------------------------------------------------------------------ DW

  /** The six DW tables' schemas as a parquet read of what the builders
    * above write returns them: every field nullable, and `fato_vendas`
    * with its `ano` partition column last. Reading the DW with these skips
    * the footer-inference job a schema-less parquet read runs; the drift
    * test (DwReadSpec) pins them against the written tables.
    */
  private[graft] val DwSchemas: Map[String, StructType] = Map(
    "dim_produto" -> ("sk_produto INT, id_produto_original BIGINT, " +
      "nome_produto STRING, marca STRING, categoria STRING, tamanho INT"),
    "dim_cliente" -> ("sk_cliente INT, id_cliente_original BIGINT, " +
      "nome_cliente STRING, tipo_cliente STRING, nacao STRING, regiao STRING, " +
      "segmento STRING"),
    "dim_vendedor" -> ("sk_vendedor INT, id_vendedor_original BIGINT, " +
      "nome_vendedor STRING, nacao STRING"),
    "dim_localidade" -> ("sk_localidade INT, id_localidade_original BIGINT, " +
      "pais STRING, regiao STRING"),
    "dim_tempo" -> ("sk_tempo INT, data_completa DATE, ano INT, mes INT, " +
      "nome_mes STRING, trimestre INT, semestre INT"),
    "fato_vendas" -> ("id_pedido BIGINT, numero_linha INT, sk_produto INT, " +
      "sk_cliente INT, sk_vendedor INT, sk_localidade INT, sk_tempo INT, " +
      "qtd_vendida INT, valor_bruto DECIMAL(18,2), valor_desconto DECIMAL(18,2), " +
      "valor_total DECIMAL(18,2), ano INT")
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** One DW table read back from `dwDir` with its declared schema. */
  def readDw(spark: SparkSession, dwDir: String, table: String,
             schemas: Map[String, StructType] = DwSchemas): DataFrame =
    spark.read.schema(schemas(table)).parquet(s"$dwDir/$table")

  // ------------------------------------------------------------- sources

  /** A source's fact columns over its header ⨝ detail frame: line grain,
    * the four dimension lookup keys, order date, quantity, and the three
    * money expressions, each already DECIMAL(18,2).
    */
  final case class FactColumns(idPedido: Column, numeroLinha: Column,
      produto: Column, cliente: Column, vendedor: Column, localidade: Column,
      orderDate: Column, qty: Column, bruto: Column, desconto: Column, total: Column)

  /** One input of the star pipeline: its five dim builders keyed by DW
    * table, the DW schemas it is read back with (its own four dims, the
    * shared `dim_tempo` and `fato_vendas`), its header ⨝ detail frame
    * and its fact columns over that frame.
    */
  final case class Source(dims: Seq[(String, () => DataFrame)],
      schemas: Map[String, StructType], orderLines: () => DataFrame,
      fact: FactColumns)

  /** The testdata star as a [[Source]]. */
  def source(spark: SparkSession, dir: String): Source = Source(
    Seq("dim_produto" -> (() => dimProduto(spark, dir)),
      "dim_cliente" -> (() => dimCliente(spark, dir)),
      "dim_vendedor" -> (() => dimVendedor(spark, dir)),
      "dim_localidade" -> (() => dimLocalidade(spark, dir)),
      "dim_tempo" -> (() => dimTempo(spark))),
    DwSchemas, () => orderLines(orders(spark, dir), lineitem(spark, dir)), Fact)

  private def orderLines(o: DataFrame, l: DataFrame): DataFrame =
    o.join(l, o("o_orderkey") === l("l_orderkey"), "inner")

  /** NUMERIC(18,2) money end-to-end, matching the reference DDL
    * (create_dw_tables.sql:62-64): the products carry scale 4 and are
    * rounded (HALF_UP) back to the declared scale 2 at the column
    * boundary, exactly as Postgres would on insert.
    */
  private val Fact: FactColumns = {
    val epDec = money(col("l_extendedprice"))
    val discDec = col("l_discount").cast("decimal(4,2)")
    val one = lit("1.00").cast("decimal(3,2)")
    FactColumns(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("o_custkey"), col("l_suppkey"), col("l_suppkey"), col("o_orderdate"),
      col("l_quantity"), epDec, (epDec * discDec).cast("decimal(18,2)"),
      (epDec * (one - discDec)).cast("decimal(18,2)"))
  }

  // ---------------------------------------------------------------- fact

  /** Fact table at order-line grain (etl_fato_vendas.py:30-101):
    * header ⨝ detail (J8) + 4 SK lookups (J9-J12, including the SHIP-side
    * geography key — the reference resolves sk_localidade via
    * ShipToAddressID, dags/etl_fato_vendas.py:69-76, not the customer's
    * address; here the ship-side location key on a line is l_suppkey) +
    * arithmetic sk_tempo (F9) + decimal metrics (F10/F11) + null-key
    * prune (P4). The header⨝detail join shuffles both sides on the order
    * key (their natural co-partition key — at 100 TB, bucketing both
    * tables by orderkey turns this into a shuffle-free sort-merge join).
    */
  def fatoVendas(spark: SparkSession, dir: String): DataFrame =
    fatoVendasFrom(spark, dir, orders(spark, dir), lineitem(spark, dir))

  /** [[fatoVendas]] with injectable header/detail relations — the 100 TB
    * storage hook: pass bucketed catalog tables (both sides
    * `bucketBy(n, orderkey).sortBy(orderkey)`) and the header⨝detail join
    * plans with ZERO Exchanges (bucket-co-located sort-merge join) instead
    * of shuffling the two largest tables. Bench measures both forms.
    */
  def fatoVendasFrom(spark: SparkSession, dir: String,
                     o: DataFrame, l: DataFrame): DataFrame =
    fatoVendasFromDims(o, l,
      dimProduto(spark, dir).select("sk_produto", "id_produto_original"),
      dimCliente(spark, dir).select("sk_cliente", "id_cliente_original"),
      dimVendedor(spark, dir).select("sk_vendedor", "id_vendedor_original"),
      dimLocalidade(spark, dir).select("sk_localidade", "id_localidade_original"))

  /** [[fatoVendasFrom]] with the SK maps injected as well — the
    * incremental-load hook: a production increment pass joins against the
    * DW's STORED dimensions (read back from parquet/JDBC, exactly the
    * reference's SK-map read-back at dags/etl_fato_vendas.py:21-24), not
    * against freshly re-derived ones. Each dim needs (sk, business key)
    * only.
    */
  def fatoVendasFromDims(o: DataFrame, l: DataFrame, dp: DataFrame,
                         dc: DataFrame, dv: DataFrame, dl: DataFrame): DataFrame =
    fatoVendasOver(orderLines(o, l), Fact, dp, dc, dv, dl)

  /** The fact kernel every source's `fato_vendas` runs: `lines` (a
    * header ⨝ detail frame) + 4 SK lookups (J9-J12) + arithmetic sk_tempo
    * (F9) + the source's decimal metrics (F10/F11) + null-key prune (P4).
    * Each dim needs (sk, business key) only. Dimension lookups that are
    * BOUNDED (produto catalog, vendedor roster) carry an explicit
    * `broadcast()` hint; dims that GROW with the corpus (cliente,
    * localidade — 10⁸+ rows at 100 TB, where a forced broadcast OOMs the
    * driver) are left unhinted so the planner/AQE picks broadcast only
    * while they actually fit under autoBroadcastJoinThreshold and falls
    * back to a shuffled join beyond it.
    */
  def fatoVendasOver(lines: DataFrame, f: FactColumns, dp: DataFrame,
                     dc: DataFrame, dv: DataFrame, dl: DataFrame): DataFrame =
    lines
      .join(broadcast(dp), f.produto === dp("id_produto_original"), "left")
      .join(dc, f.cliente === dc("id_cliente_original"), "left")
      .join(broadcast(dv), f.vendedor === dv("id_vendedor_original"), "left")
      .join(dl, f.localidade === dl("id_localidade_original"), "left")
      .select(
        f.idPedido.cast("long").as("id_pedido"),
        f.numeroLinha.cast("int").as("numero_linha"),
        col("sk_produto"), col("sk_cliente"), col("sk_vendedor"),
        col("sk_localidade"),
        smartDateKey(f.orderDate).as("sk_tempo"),
        f.qty.cast("int").as("qtd_vendida"), f.bruto.as("valor_bruto"),
        f.desconto.as("valor_desconto"), f.total.as("valor_total"))
      // null-key prune matches the reference exactly: dropna
      // subset=['sk_produto','sk_cliente','sk_tempo']
      // (dags/etl_fato_vendas.py:96) — sk_localidade and sk_vendedor stay
      // nullable so an unresolved ship-side key doesn't shrink KPI totals.
      .na.drop("any", Seq("sk_produto", "sk_cliente", "sk_tempo"))
}
