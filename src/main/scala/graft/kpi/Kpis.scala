package graft.kpi

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's 10-query analytical surface (KPIs.sql:1-83), computed
  * over the Spark-built star (graft.etl.Star) — no database round-trip:
  * dims, fact and KPI are one Catalyst plan, so the dim⨝fact joins here are
  * planned as broadcast hash joins and the aggregates as partial+final
  * HashAggregate (map-side combine → tiny shuffle), the shape that holds at
  * 100 TB.
  *
  * Aggregation is done in exact decimal (sum order independence), cast to
  * double only at the end; every output is deterministically ordered.
  *
  * The grouped KPIs (6, 7, 8) group by a bounded domain (categoria, nação,
  * país, ano/mês), so their results are a few dozen rows. They are ordered
  * in one partition ([[orderedInOnePartition]]) instead of by a global
  * `orderBy`, which would add a range-sampling job and a range exchange
  * to every read. The partial aggregate over the fact stays fully
  * parallel: `coalesce(1)` is narrow and stops at the aggregate's hash
  * exchange, so only the final merge and the sort run in one task. The
  * sort keys are unchanged and the single partition is sorted whole, so
  * the rows come out in the same order as before. KPIs 5 and 9 keep
  * `orderBy` + `limit`, which plans as TakeOrderedAndProject.
  */
object Kpis {

  private def dec(c: String) = col(c).cast("decimal(18,4)")

  /** `df` in one partition, sorted by `keys`: the total order of
    * `orderBy(keys)` without its range-partitioning pass. Only for results
    * whose row count is bounded by a small grouping domain.
    */
  private def orderedInOnePartition(df: DataFrame, keys: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(keys: _*)

  /** KPI 1 — gross revenue (KPIs.sql:4-6). */
  def kpi1FaturamentoBruto(fato: DataFrame): DataFrame =
    fato.agg(sum(dec("valor_bruto")).cast("double").as("faturamento_bruto"))

  /** KPI 2 — net revenue (KPIs.sql:9-11). */
  def kpi2FaturamentoLiquido(fato: DataFrame): DataFrame =
    fato.agg(sum(dec("valor_total")).cast("double").as("faturamento_liquido"))

  /** KPI 3 — total discounts given (KPIs.sql:14-16). */
  def kpi3TotalDescontos(fato: DataFrame): DataFrame =
    fato.agg(sum(dec("valor_desconto")).cast("double").as("total_descontos"))

  /** KPI 4 — total units sold (KPIs.sql:19-21). */
  def kpi4ItensVendidos(fato: DataFrame): DataFrame =
    fato.agg(sum(col("qtd_vendida").cast("long")).as("total_itens_vendidos"))

  /** KPI 5 — top-5 products by revenue (KPIs.sql:27-34): grouped sum →
    * sort → limit; Spark plans the tail as TakeOrderedAndProject
    * (distributed top-k, no global sort).
    */
  def kpi5TopProdutos(fato: DataFrame, dimProduto: DataFrame): DataFrame =
    fato.join(broadcast(dimProduto), Seq("sk_produto"))
      .groupBy("nome_produto")
      .agg(sum(dec("valor_total")).cast("double").as("total_vendas"))
      .orderBy(desc("total_vendas"), asc("nome_produto"))
      .limit(5)

  /** KPI 6 — revenue + sale count by category (KPIs.sql:37-44). */
  def kpi6VendasPorCategoria(fato: DataFrame, dimProduto: DataFrame): DataFrame =
    orderedInOnePartition(
      fato.join(broadcast(dimProduto), Seq("sk_produto"))
        .groupBy("categoria")
        .agg(sum(dec("valor_total")).cast("double").as("total_vendas"),
          count(lit(1)).as("quantidade_vendas")),
      desc("total_vendas"), asc("categoria"))

  /** KPI 7, faithful form — revenue by ship-side country via the GEOGRAPHY
    * dimension (KPIs.sql:49-56 joins fato→dim_localidade on sk_localidade —
    * the ship-to key, dags/etl_fato_vendas.py:69-76 — and groups by país).
    * No broadcast hint: localidade grows with the corpus (address-grain in
    * the reference), so the planner/AQE must stay free to shuffle it.
    */
  def kpi7PorPais(fato: DataFrame, dimLocalidade: DataFrame): DataFrame =
    orderedInOnePartition(
      fato.join(dimLocalidade, Seq("sk_localidade"))
        .groupBy("pais")
        .agg(sum(dec("valor_total")).cast("double").as("total_vendas")),
      desc("total_vendas"), asc("pais"))

  /** KPI 7, customer-nation variant — the same rollup by the BUYER's
    * nation via dim_cliente (kept alongside the faithful ship-side form:
    * both rollups exist in real DWs and both are oracle-gated). Cliente is
    * also a corpus-sized dim — no broadcast hint (AQE decides).
    */
  def kpi7PorNacao(fato: DataFrame, dimCliente: DataFrame): DataFrame =
    orderedInOnePartition(
      fato.join(dimCliente, Seq("sk_cliente"))
        .groupBy("nacao")
        .agg(sum(dec("valor_total")).cast("double").as("total_vendas")),
      desc("total_vendas"), asc("nacao"))

  /** KPI 8 — monthly seasonality, 3 grouping keys (KPIs.sql:59-67). */
  def kpi8Sazonalidade(fato: DataFrame, dimTempo: DataFrame): DataFrame =
    orderedInOnePartition(
      fato.join(broadcast(dimTempo.select("sk_tempo", "ano", "mes", "nome_mes")),
          Seq("sk_tempo"))
        .groupBy("ano", "mes", "nome_mes")
        .agg(sum(dec("valor_total")).cast("double").as("total_vendas")),
      col("ano"), col("mes"))

  /** KPI 9 — top-10 salespeople, null-filtered (KPIs.sql:69-78). */
  def kpi9RankingVendedores(fato: DataFrame, dimVendedor: DataFrame): DataFrame =
    fato.join(broadcast(dimVendedor), Seq("sk_vendedor"))
      .filter(col("nome_vendedor").isNotNull)
      .groupBy("nome_vendedor")
      .agg(sum(dec("valor_total")).cast("double").as("total_gerado"))
      .orderBy(desc("total_gerado"), asc("nome_vendedor"))
      .limit(10)

  /** KPI 10 — average ticket per line (KPIs.sql:80-83). Decimal sum /
    * count, then one double division — order independent, unlike avg() over
    * doubles.
    */
  def kpi10TicketMedio(fato: DataFrame): DataFrame =
    fato.agg((sum(dec("valor_total")).cast("double") /
      count(lit(1)).cast("double")).as("ticket_medio_item"))
}
