package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark counters, fed by a listener the benchmark registers
  * on its own session. A span or a measured phase takes a snapshot
  * before and after, after draining the listener bus, and reports the
  * difference.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val c = Probe.Names.map(_ -> new AtomicLong(0L)).toMap

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v): Unit

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_rows", m.inputMetrics.recordsRead)
      add("input_bytes", m.inputMetrics.bytesRead)
    }
  }

  sc.addSparkListener(this)

  /** Counter values once every event posted so far has been delivered,
    * plus the JVM's cumulative GC time (in local mode every task runs in
    * this one process).
    */
  def snap(): Map[String, Long] = {
    org.apache.spark.ListenerDrain(sc)
    c.map { case (k, v) => k -> v.get } + ("gc_ms" -> Probe.gcMillis())
  }
}

object Probe {
  val Names: Seq[String] = Seq("jobs", "tasks", "task_ms", "shuffle_bytes",
    "spill_bytes", "input_rows", "input_bytes")

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** One recorded span: name, wall interval (ns since the run's origin),
  * the enclosing span (-1 at top level), the run id, and the Spark
  * counter deltas over the interval.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      endNs: Long, counters: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept in a buffer and written out
  * once, when the run ends; while disabled it runs the body untouched.
  */
final class Tracer(probe: Probe) {
  var enabled = false
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private val origin = System.nanoTime()
  private var stack: List[Int] = Nil

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), 0L, 0L, Map.empty)
      // the listener-bus drains fall inside the span's own interval, so
      // a parent's children account for its wall time
      val t0 = System.nanoTime()
      val c0 = probe.snap()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val c1 = probe.snap()
        val t1 = System.nanoTime()
        spans(id) = Span(id, name, spans(id).parent, t0 - origin, t1 - origin,
          Probe.delta(c0, c1))
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
}
