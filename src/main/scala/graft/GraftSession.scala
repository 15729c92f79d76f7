package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way a main opens the engine's session, so the plans the
  * correctness gate, the bench, PlanAudit and the DAG's `AwRun` execute
  * are the same plans:
  *
  *   - master `local[cores]`, unless one was submitted (spark-submit's
  *     `--master` arrives as the `spark.master` system property and is
  *     kept — a `GRAFT_SPARK_ARGS="--master yarn"` deployment must not be
  *     overridden by the code);
  *   - initial shuffle partitions sized from `dir`'s tables
  *     ([[Tuning.sessionShufflePartitions]]);
  *   - UTC session time zone, nanosecond parquet timestamps read as longs
  *     (older testdata drops), AQE, and [[graft.plans.GraftExtensions]];
  *   - a fresh warehouse directory under /tmp (bucketed tables go through
  *     saveAsTable; a reused location with a fresh in-memory catalog
  *     fails with LOCATION_ALREADY_EXISTS), UI off;
  *   - [[Tuning.applyProductionIo]] and log level ERROR (mains print
  *     their own results and failures).
  *
  * A main that needs one more runtime SQL conf sets it with
  * `spark.conf.set` after [[open]].
  */
object GraftSession {

  /** Local task threads: `SPARK_GRAFT_CPUS`, else min(32, nproc). */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
    .filter(_.nonEmpty).map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** Open the session for work over the data directory `dir`. */
  def open(dir: String): SparkSession = {
    val n = cores
    // SparkConf loads the spark.* system properties, which is where
    // spark-submit puts its --master
    val conf = new SparkConf()
      .setIfMissing("spark.master", s"local[$n]")
      .set("spark.sql.shuffle.partitions",
        Tuning.sessionShufflePartitions(dir, n).toString)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.sql.legacy.parquet.nanosAsLong", "true")
      .set("spark.sql.adaptive.enabled", "true")
      .set("spark.sql.extensions", "graft.plans.GraftExtensions")
      .set("spark.sql.warehouse.dir", s"/tmp/graft_wh_${System.nanoTime()}")
      .set("spark.ui.enabled", "false")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    Tuning.applyProductionIo(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
