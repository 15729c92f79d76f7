package graft

import graft.kpi.KpisSql

/** SURVEY §5/§7.1 golden cross-check: every KPI computed two independent
  * ways — DataFrame API vs spark.sql text — must return identical rows.
  */
class KpiDualFormSpec extends SparkSpec {

  test("all 10 KPIs: DataFrame form == SQL form, row for row") {
    KpisSql.registerStar(spark, tiny)
    KpisSql.sql.keys.toSeq.sorted.foreach { name =>
      val viaSql = spark.sql(KpisSql.sql(name)).collect().toSeq
      val viaDf = SparkEntry.queries(name)(spark, tiny).collect().toSeq
      assert(viaDf === viaSql, s"KPI $name differs between forms")
    }
  }
}
