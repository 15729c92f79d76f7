package graft

import java.nio.file.Paths
import scala.jdk.CollectionConverters._
import scala.sys.process._

/** Runs a main of the test classpath in a fresh JVM, for checks that
  * need a JVM of their own: static Spark settings only take effect in a
  * JVM whose first session opens them, and shutdown hooks only run when
  * a JVM exits.
  */
object ChildJvm {

  /** `key=value` pairs of the `probe:key=value` lines `main` prints,
    * run with SPARK_GRAFT_CPUS=2 and the extra JVM options `jvmOpts`.
    */
  def probe(main: String, args: Seq[String],
      jvmOpts: Seq[String] = Nil): Map[String, String] = {
    val (code, out, err) = run(main, args, jvmOpts)
    assert(code == 0, s"$main JVM exited $code:\n${err.takeRight(4000)}")
    out.linesIterator.collect {
      case l if l.startsWith("probe:") =>
        val Array(k, v) = l.stripPrefix("probe:").split("=", 2)
        k -> v
    }.toMap
  }

  /** `main`'s exit code, stdout and stderr, run with SPARK_GRAFT_CPUS=2
    * and the extra JVM options `jvmOpts`.
    */
  def run(main: String, args: Seq[String],
      jvmOpts: Seq[String] = Nil): (Int, String, String) = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    // --add-opens flags Spark needs on JDK 17, as this JVM was given them
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filter(_.startsWith("--add-opens="))
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++ jvmOpts ++
      Seq("-cp", sys.props("java.class.path"), main) ++ args
    val out = new StringBuilder
    val err = new StringBuilder
    val code = Process(cmd, None, "SPARK_GRAFT_CPUS" -> "2")
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => err.append(l).append('\n')))
    (code, out.toString, err.toString)
  }
}
