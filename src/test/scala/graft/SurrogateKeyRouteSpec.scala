package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import graft.etl.Star

/** The size route `SurrogateKeys.auto` takes for the two star dimensions
  * built over two chained left joins. Their root size estimate is the
  * join PRODUCT of their inputs' (hundreds of GB), so routing on it sent
  * them down `denseDistributed`, whose sort sampling, checkpoint barrier
  * and partition-count collect all run while the frame is only being
  * built. Routed on the bytes they scan, they take the window route and
  * building them runs no Spark job at all.
  */
class SurrogateKeyRouteSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  private val dims: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dim_cliente" -> Star.dimCliente _,
    "dim_localidade" -> Star.dimLocalidade _)

  private def hasBarrier(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.nonEmpty

  private def rowsBySk(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getInt(0))

  for ((name, build) <- dims) {
    test(s"$name at sf0.01: building it and reading its schema runs zero Spark jobs") {
      val (schema, jobs) = jobsDuring(build(spark, sf).schema)
      assert(schema.fieldNames.head.startsWith("sk_"))
      assert(jobs == 0, s"$name ran $jobs Spark jobs before any action")
    }

    test(s"$name at sf0.01 takes the window route: no checkpoint barrier in its plan") {
      assert(!hasBarrier(build(spark, sf)))
    }

    test(s"$name: a 1-byte window threshold still routes distributed, same rows") {
      val viaWindow = rowsBySk(build(spark, sf))
      spark.conf.set("graft.sk.windowMaxBytes", "1")
      try {
        val routed = build(spark, sf)
        assert(hasBarrier(routed), "expected the denseDistributed barrier")
        assert(rowsBySk(routed) === viaWindow)
      } finally {
        spark.conf.unset("graft.sk.windowMaxBytes")
        Checkpoint.releaseAll()
      }
    }
  }
}
