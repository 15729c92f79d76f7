package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main opens its session through [[GraftSession]]. The session
  * settings are checked in a child JVM, because a JVM holds one
  * SparkContext and this suite's JVM already runs the shared test
  * session: static settings such as `spark.sql.extensions` and the master
  * only take effect in a JVM whose first session GraftSession opens —
  * which is what a main started by spark-submit or tools/run.sh is.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val tiny = "/root/testdata/sf0.001"

  /** `key=value` lines [[GraftSessionProbe]] prints in a fresh JVM started
    * with the extra JVM options `jvmOpts` and SPARK_GRAFT_CPUS=2.
    */
  private def probe(jvmOpts: Seq[String]): Map[String, String] =
    ChildJvm.probe("graft.GraftSessionProbe", Seq(tiny), jvmOpts)

  private lazy val unsubmitted = probe(Nil)
  // spark-submit hands its --master to the main as this system property
  private lazy val submitted = probe(Seq("-Dspark.master=local[1]"))

  test("SparkSession.builder only in GraftSession; its session carries UTC, AQE, nanosAsLong and GraftExtensions") {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."), "src/main/scala")
    val builders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toSeq.sorted
    assert(builders == Seq("graft/GraftSession.scala"),
      "open the session with GraftSession.open instead of a builder")

    val s = unsubmitted
    assert(s("tz") == "UTC")
    assert(s("aqe") == "true")
    assert(s("nanosAsLong") == "true")
    assert(s("extensions") == "graft.plans.GraftExtensions")
    // the extensions' native functions resolve as builtins
    assert(s("simhash64") == "ok")
    assert(s("shufflePartitions") == "2")
    assert(s("ui") == "false")
    assert(s("warehouse").contains("/tmp/graft_wh_"))
  }

  test("src/main/scala reads exactly the eleven SPARK_GRAFT_* env knobs") {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."), "src/main/scala")
    val Knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val comment = (l: String) => Seq("//", "/*", "*").exists(l.trim.startsWith)
    val knobs = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Files.readAllLines(p).asScala.filterNot(comment))
      .flatMap(Knob.findAllIn).toSet
    // a new knob is a deliberate edit of this list
    assert(knobs == Set("SPARK_GRAFT_BENCH_BANDS", "SPARK_GRAFT_BENCH_LINE_BUDGET",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_ONLY", "SPARK_GRAFT_PARQUET_CODEC", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SORT_SPILL_BUDGET",
      "SPARK_GRAFT_ZIPF_DOCS"))
  }

  test("a submitted master is kept; without one the session runs local[SPARK_GRAFT_CPUS]") {
    assert(unsubmitted("master") == "local[2]")
    assert(submitted("master") == "local[1]")
    assert(submitted("tz") == "UTC")
  }
}

/** Opens a [[GraftSession]] over `args(0)` and prints its settings as
  * `probe:key=value` lines (run by [[GraftSessionSpec]] in its own JVM).
  */
object GraftSessionProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.open(args(0))
    def conf(k: String) = spark.conf.get(k)
    val simhash =
      try { spark.sql("SELECT simhash64(array('a', 'b'))").head(); "ok" }
      catch { case e: Throwable => e.getClass.getSimpleName }
    Seq(
      "master" -> spark.sparkContext.master,
      "tz" -> conf("spark.sql.session.timeZone"),
      "aqe" -> conf("spark.sql.adaptive.enabled"),
      "nanosAsLong" -> conf("spark.sql.legacy.parquet.nanosAsLong"),
      "extensions" -> conf("spark.sql.extensions"),
      "simhash64" -> simhash,
      "shufflePartitions" -> conf("spark.sql.shuffle.partitions"),
      "ui" -> spark.sparkContext.getConf.get("spark.ui.enabled"),
      "warehouse" -> conf("spark.sql.warehouse.dir"))
      .foreach { case (k, v) => println(s"probe:$k=$v") }
    spark.stop()
  }
}
