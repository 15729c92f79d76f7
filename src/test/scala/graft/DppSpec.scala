package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.etl.Star

/** Dynamic partition pruning over the year-partitioned fact: a dim-side
  * attribute filter (a date range the optimizer cannot see statically on
  * the fact) must prune the fact scan AT RUNTIME via the DPP subquery —
  * the mechanism that keeps "join the fact to a filtered calendar"
  * from scanning 100 TB of history. The join carries the redundant
  * ano = ano conjunct alongside sk_tempo = sk_tempo (sk equality implies
  * year equality, so semantics are unchanged) — the standard star-schema
  * device that exposes the partition column to the pruning planner.
  */
class DppSpec extends SparkSpec {

  test("dim-side date filter dynamically prunes fact partitions") {
    val dw = Scratch.tempDir("dpp_spec").toString
    Star.fatoVendas(spark, tiny)
      .withColumn("ano", (col("sk_tempo") / 10000).cast("int"))
      .write.mode("overwrite").partitionBy("ano").parquet(dw)
    val fact = spark.read.parquet(dw)
    val years = fact.select("ano").distinct().count()
    assert(years > 1, "need multiple year partitions for pruning to mean anything")

    val dimT = Star.dimTempo(spark)
      .withColumn("ano", (col("sk_tempo") / 10000).cast("int"))
      .filter(col("data_completa").between("1996-01-01", "1996-12-31"))
    val joined = fact.join(dimT,
      fact("sk_tempo") === dimT("sk_tempo") && fact("ano") === dimT("ano"))
    val n = joined.count()

    // semantics: identical to the statically filtered join
    val expect = fact.filter(col("ano") === 1996).count()
    assert(n == expect, s"DPP join returned $n rows, static filter says $expect")

    // mechanism: the fact scan must carry a dynamic-pruning filter on ano
    val scans = allNodes(joined.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("dpp_spec")) => f
    }
    assert(scans.nonEmpty, "expected the fact file scan in the plan")
    val dpp = scans.exists(_.partitionFilters.exists(e =>
      e.find(_.getClass.getName.contains("DynamicPruning")).isDefined))
    assert(dpp, "expected a DynamicPruning expression in the fact scan's partitionFilters")
  }
}
