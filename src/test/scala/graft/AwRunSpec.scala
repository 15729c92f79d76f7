package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.etl.aw.AwRun

/** The DAG's entry point over a hand-picked extract ([[AwFixture]]): the
  * full build and the one-table-per-task runs publish the same DW, the
  * ten reference KPIs serve from it, and bad arguments are rejected
  * before any session opens.
  */
class AwRunSpec extends SparkSpec {

  test("a full build and six --table runs in DAG order publish the same DW; the ten KPIs return") {
    val full = Scratch.tempDir("graft_awrun_full").toString
    val tasks = Scratch.tempDir("graft_awrun_tasks").toString
    val kpis = AwRun.run(spark, None, AwFixture.csvDir, full)
    AwRun.Tables.foreach(t =>
      assert(AwRun.run(spark, Some(t), AwFixture.csvDir, tasks).isEmpty))
    for (t <- AwRun.Tables) {
      val a = spark.read.parquet(s"$full/$t")
      val b = spark.read.parquet(s"$tasks/$t")
      assert(!a.isEmpty, s"$t is empty")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t differs between the full build and the --table run")
    }
    assert(kpis.map(_._1) === Seq("kpi1", "kpi2", "kpi3", "kpi4", "kpi5",
      "kpi6", "kpi7_pais", "kpi8", "kpi9", "kpi10"))
    kpis.foreach { case (k, rows) => assert(rows.nonEmpty, s"$k returned no rows") }
    // every stand-in line finds its product and customer: none is pruned
    assert(spark.read.parquet(s"$full/fato_vendas").count() === 121317)

    // the fixture's edge cases, repaired as the reference's DAGs repair them
    def one(t: String, k: String, v: Int) =
      spark.read.parquet(s"$full/$t").filter(col(k) === v).head()
    val race = one("dim_produto", "id_produto_original", 1)
    assert(race.getAs[String]("nome_subcategoria") === "Sem Subcategoria")
    assert(race.getAs[String]("categoria") === "Sem Categoria")
    assert(one("dim_produto", "id_produto_original", 714).getAs[String]("cor") === "N/A")
    assert(one("dim_produto", "id_produto_original", 771)
      .getAs[String]("nome_produto") === "Mountain-100 Silver, 38")
    assert(one("dim_cliente", "id_cliente_original", 29484)
      .getAs[String]("tipo_cliente") === "Store")
    assert(one("dim_localidade", "id_localidade_original", 9)
      .getAs[String]("cidade") === "Desconhecida")
    assert(one("dim_localidade", "id_localidade_original", 25)
      .getAs[String]("pais") === "Korea, Republic of")
  }

  test("an unknown or missing --table name is rejected, naming the tables, before a session opens") {
    assert(AwRun.parse(Seq("--table", "dim_produto", "in", "out")) ===
      Right((Some("dim_produto"), "in", "out")))
    assert(AwRun.parse(Seq("in", "out")) === Right((None, "in", "out")))
    for (args <- Seq(Seq("--table", "dim_nope", "in", "out"), Seq("in", "out", "--table"))) {
      val usage = AwRun.parse(args).left.getOrElse(fail(s"$args accepted"))
      AwRun.Tables.foreach(t => assert(usage.contains(t), usage))
      val (code, _, err) = ChildJvm.run("graft.etl.aw.AwRun", args)
      assert(code === 2 && err.contains(usage), err)
      assert(!err.contains("SparkContext"), s"a session opened:\n$err")
    }
  }

  test("src/main/scala/graft/etl/aw reads no DW table schema-less and keeps no KPI code of its own") {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."), "src/main/scala/graft/etl/aw")
    val kpiDef = """.*\b(object|class|def|val)\s+[Kk]pi.*""".r
    val hits = Files.list(root).iterator().asScala.toSeq.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("read.parquet(") || kpiDef.matches(l) =>
          s"${p.getFileName}:${i + 1}: $l"
      }
    }
    assert(hits.isEmpty, "read the DW through StarBench/Star.readDw and serve " +
      s"KPIs from StarBench.kpiSuite:\n${hits.mkString("\n")}")
  }
}
