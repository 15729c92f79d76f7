package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // bucketed-table specs saveAsTable; keep the warehouse out of the repo
    // and unique per JVM — a reused location with a fresh in-memory catalog
    // makes CREATE TABLE fail on LOCATION_ALREADY_EXISTS
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_test_wh_${java.lang.ProcessHandle.current().pid()}_${System.nanoTime()}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val tiny = "/root/testdata/sf0.001"
  val awData = "/root/reference/dags/data"

  /** `f`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      ListenerBusDrain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Full post-AQE plan walk for API-level plan assertions: materialized
    * stages are childless QueryStageExec nodes, so a plain
    * children-recursion stops at every stage boundary — recurse through
    * stage.plan (and the adaptive root's executedPlan) to reach the real
    * operators, instead of matching the rendered plan string, whose shape
    * drifts across Spark versions.
    */
  def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val through = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Seq.empty
    }
    p +: (p.children ++ through).flatMap(allNodes)
  }
}
