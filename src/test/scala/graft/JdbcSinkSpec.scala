package graft

import graft.etl.Star

/** The reference-compatible JDBC path (SURVEY §2.1 S2/S4/S5) against a
  * real embedded Derby database: truncate+append sink, then the
  * reference's exact read-back pattern — a projected SELECT of the SK↔
  * business-key map (dags/etl_fato_vendas.py:21-24).
  */
class JdbcSinkSpec extends SparkSpec {

  test("JDBC round-trip: truncate+append sink, projected scan back") {
    val db = Scratch.tempDir("graft_derby")
      .resolve("dw").toString
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()
    val dim = Star.dimProduto(spark, tiny)
      .select("sk_produto", "id_produto_original", "nome_produto")

    // first write creates the table; second exercises truncate-reload (S5)
    graft.sink.Sink.jdbc(dim, url, "dim_produto", props)
    graft.sink.Sink.jdbc(dim, url, "dim_produto", props)

    // S2: projected scan back — only the SK map columns
    // (Derby upper-cases unquoted identifiers; Spark created the columns
    // quoted-lowercase, so the projection must quote them)
    val back = spark.read.jdbc(url,
      "(SELECT \"sk_produto\", \"id_produto_original\" FROM dim_produto) t",
      props)
    assert(back.count() === dim.count()) // truncate prevented duplication
    val diff = back
      .except(dim.select("sk_produto", "id_produto_original"))
    assert(diff.count() === 0)
  }

  test("JDBC round-trip preserves NUMERIC(18,2) money values and scale") {
    import org.apache.spark.sql.functions._
    val db = Scratch.tempDir("graft_derby_money")
      .resolve("dw").toString
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()
    // money at the exact DDL type the reference declares
    // (create_dw_tables.sql:62-64 NUMERIC(18,2)) — incl. a .005 edge value
    val fato = spark.range(1, 101).select(
      col("id").cast("int").as("id_pedido"),
      ((col("id") * 997 + 5).cast("decimal(18,0)") / 100)
        .cast("decimal(18,2)").as("valor_total"))
    graft.sink.Sink.jdbc(fato, url, "fato_money", props)
    graft.sink.Sink.jdbc(fato, url, "fato_money", props) // truncate-reload

    val back = spark.read.jdbc(url, "fato_money", props)
    // dtype survives: still an exact decimal of scale 2, not a float
    val dt = back.schema("valor_total").dataType
    assert(dt === org.apache.spark.sql.types.DecimalType(18, 2))
    assert(back.count() === 100)
    // values survive bit-exactly (decimal compare, no double detour)
    val diff = back.except(fato)
    assert(diff.count() === 0)
    // and the decimal SUM over the read-back equals the in-plan sum
    val a = fato.agg(sum("valor_total")).head().getDecimal(0)
    val b = back.agg(sum("valor_total")).head().getDecimal(0)
    assert(a === b)
  }
}
