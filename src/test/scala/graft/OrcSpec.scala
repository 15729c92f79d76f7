package graft

import org.apache.spark.sql.functions._

/** ORC — the other columnar format a lakehouse interop surface needs
  * beside parquet. Round trip on the sales fact plus the two properties
  * that make a columnar source worth using: predicate pushdown reaching
  * the scan and column pruning in ReadSchema.
  */
class OrcSpec extends SparkSpec {

  test("lineitem round-trips through ORC; filters push down; columns prune") {
    val out = s"${Scratch.tempDir("graft_orc_")}/out"
    val li = Tables.lineitem(spark, tiny)
    li.write.orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == li.schema, "ORC must preserve the schema")
    val a = li.orderBy("l_orderkey", "l_linenumber", "l_partkey").collect().toSeq
    val b = back.orderBy("l_orderkey", "l_linenumber", "l_partkey").collect().toSeq
    assert(a == b, "ORC round trip must be lossless")
    val q = back.filter(col("l_quantity") > 25)
      .select("l_orderkey", "l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"quantity predicate must reach the ORC scan:\n$plan")
    assert("ReadSchema:[^\\n]*l_orderkey[^\\n]*l_quantity".r
      .findFirstIn(plan).isDefined &&
      !"ReadSchema:[^\\n]*l_comment".r.findFirstIn(plan).isDefined,
      s"scan must read only the projected columns:\n$plan")
  }
}
