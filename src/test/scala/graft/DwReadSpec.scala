package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.StructType
import graft.etl.Star

/** The DW read path the KPIs are served from: tables read with the
  * schemas declared in `Star.DwSchemas`, and bounded groupings ordered in
  * one partition. Each KPI read then runs only the Spark jobs of its own
  * query: no footer-inference job per table, no range-sampling job.
  */
class DwReadSpec extends SparkSpec {
  private lazy val dw = {
    val d = Scratch.tempDir("graft_dw_read").toString
    StarBench.starBuildTo(spark, tiny, d)
    d
  }
  private lazy val suite = StarBench.kpiSuite(spark, dw).toMap

  private val factOnly = Seq("kpi1", "kpi2", "kpi3", "kpi4", "kpi10")
  private val grouped = Seq("kpi6", "kpi7", "kpi7_pais", "kpi8", "kpi8_pruned")

  // a builder change that drifts from the declarations must fail here,
  // not as a type error or a wrong answer in a KPI read
  test("declared DW schemas equal the schemas Spark infers from the written star") {
    assert(Star.DwSchemas.keySet == Set("dim_produto", "dim_cliente",
      "dim_vendedor", "dim_localidade", "dim_tempo", "fato_vendas"))
    def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    for ((t, declared) <- Star.DwSchemas)
      assert(shape(declared) == shape(spark.read.parquet(s"$dw/$t").schema),
        s"$t: declared schema differs from the one Spark infers")
  }

  test("building every kpiSuite query and reading its schema runs zero Spark jobs") {
    val queries = suite // builds the star outside the counted region
    val (_, jobs) = jobsDuring(queries.values.foreach(_().schema))
    assert(jobs == 0, s"building the KPI suite ran $jobs Spark jobs")
  }

  test("a fact-only KPI runs at most 2 Spark jobs, a grouped or top-k KPI at most 3") {
    for ((names, most) <- Seq(factOnly -> 2, (grouped :+ "kpi5" :+ "kpi9") -> 3); q <- names) {
      val df = suite(q)()
      val (_, jobs) = jobsDuring(df.collect())
      assert(jobs <= most, s"$q ran $jobs Spark jobs, expected at most $most")
    }
  }

  test("no grouped KPI plans a range exchange") {
    for (q <- grouped) {
      val df = suite(q)()
      df.collect()
      val ranges = allNodes(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.isEmpty, s"$q plans a range exchange:\n${df.queryExecution.executedPlan}")
    }
  }

  test("kpi8_pruned prunes fact partitions on ano under the declared schema") {
    val df = suite("kpi8_pruned")()
    val scans = allNodes(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    assert(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "ano"))),
      s"no PartitionFilters on ano:\n${df.queryExecution.executedPlan}")
  }
}
