package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import graft.{StarBench, Tables, Tuning}
import graft.etl.{CsvStage, Star, SurrogateKeys}
import graft.kpi.Kpis
import graft.sink.Sink

/** The JVM half of the DW benchmark (`perfbench/run.py` is the other).
  *
  * Runs one workload over inputs that `perfbench/gen.py` generated, as
  * one closed-loop client on the main thread, and writes a result file
  * with the end-to-end metrics, the per-layer metrics (traced runs), every
  * KPI answer it served and the final DW state for the DuckDB answer
  * check. It calls only the program's public entry points: the star
  * build (`StarBench.starBuildTo`, made of `Star.dim*`,
  * `Star.fatoVendasFromDims` and `Sink.parquet`), `CsvStage.stage`,
  * `Tables`, `SurrogateKeys`, and the KPI suite (`StarBench.kpiSuite`,
  * `Kpis`).
  *
  * Usage: Main --workload W --src DIR --src-b DIR --ops FILE --work DIR
  *   --seconds S --trace 0|1 --run-id ID --out FILE
  */
object Main {

  /** local[Cores]: two task threads on the 4-core host the benchmark's
    * figures were taken on, so the client thread, the JIT compilers and
    * the GC keep cores of their own. With 3 or 4 task threads the KPI and
    * refresh latencies spread two to four times wider from run to run, at
    * about the same medians: the inputs are too small to use more cores.
    */
  val Cores = 2
  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 3

  val Dims: Seq[String] = Seq("dim_produto", "dim_cliente", "dim_vendedor",
    "dim_localidade", "dim_tempo")
  val SrcTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem")
  /** The dimension each KPI's answer depends on (None: fact only). */
  val KpiDim: Map[String, Option[String]] = Map(
    "kpi1" -> None, "kpi2" -> None, "kpi3" -> None, "kpi4" -> None,
    "kpi5" -> Some("dim_produto"), "kpi6" -> Some("dim_produto"),
    "kpi7" -> Some("dim_cliente"), "kpi7_pais" -> Some("dim_localidade"),
    "kpi8" -> None, "kpi8_pruned" -> None, "kpi9" -> Some("dim_vendedor"),
    "kpi10" -> None)

  sealed trait Op
  final case class KpiOp(query: String, year: Int) extends Op
  final case class RefreshOp(dim: String) extends Op

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      // the session settings graft.Bench uses, so a change to any of
      // them is measured here too
      .config("spark.sql.shuffle.partitions",
        Tuning.sessionShufflePartitions(a("src"), Cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tuning.applyProductionIo(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a)
    run.phase("session", jvmStart)
    try {
      a("workload") match {
        case "etl_small_csv" => run.etlSmallCsv()
        case "dw_serve"      => run.dwServe()
        case w               => sys.error(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        run.errors += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      run.phase("done")
      Files.write(Paths.get(a("out")), run.resultJson().getBytes(UTF_8))
      spark.stop()
    }
  }

  def readOps(path: String): Seq[Seq[Op]] = {
    val blocks = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Op])
    scala.io.Source.fromFile(path, "UTF-8").getLines().map(_.trim)
      .filter(_.nonEmpty).foreach { l =>
        l.split(" ") match {
          case Array("block")        => blocks += mutable.ArrayBuffer.empty
          case Array("kpi", q)       => blocks.last += KpiOp(q, 0)
          case Array("kpi", q, y)    => blocks.last += KpiOp(q, y.toInt)
          case Array("refresh", d)   => blocks.last += RefreshOp(d)
          case _                     => sys.error(s"bad op line: $l")
        }
      }
    blocks.filter(_.nonEmpty).map(_.toSeq).toSeq
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def treeBytes(f: File): Long =
    if (f.isFile) { if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length }
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum

  def treeFiles(f: File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeFiles).sum

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}

/** Plan inspection for the per-layer counts that live in the physical
  * plan rather than in task metrics.
  */
object Plans extends AdaptiveSparkPlanHelper {
  def shuffleExchanges(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      .size.toLong

  /** Files the executed plan's scans read (call after the action). */
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

final class Run(spark: SparkSession, a: Main.Args) {
  import Main._

  private val src = a("src")
  private val srcB = a("src-b")
  private val work = a("work")
  private val dw = s"$work/dw"
  private val seconds = a.int("seconds").toDouble
  /** Counted on first use, after set-up, when a Spark job is cheap. */
  private lazy val lineitemRows = Tables.lineitem(spark, src).count()
  private val probe = new Probe(spark.sparkContext)
  /** A traced run measures untraced first, then turns the tracer on. */
  private val traceRun = a("trace") == "1"
  private val tr = new Tracer(probe)

  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var failed = 0L
  /** Every KPI answer served: (query, year, dimension version, cols, rows). */
  private val answers = mutable.ArrayBuffer.empty[(String, Int, String, Seq[String], Seq[Row])]
  /** Current source version ("A" or "B") of each stored dimension. */
  private val version = mutable.Map(Dims.map(_ -> "A"): _*)
  private var etlSrc = src
  private var peakLiveBytes = 0L
  /** Files scanned by each traced KPI read. */
  private val filesRead = mutable.ArrayBuffer.empty[Double]
  /** Seconds since the run began at the end of each phase (report only). */
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private val born = System.nanoTime()
  /** Raw samples behind the medians (report only). */
  private val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - born) / 1e9
  /** Seconds from JVM start (epoch ms) to now, recorded under `name`. */
  def phase(name: String, startMs: Long): Unit =
    phases(name) = (System.currentTimeMillis() - startMs) / 1e3

  private def now(): Long = System.nanoTime()
  private def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The live heap after a full collection; outside every timed region.
    * The second collection runs after Spark's ContextCleaner has dropped
    * what the first one found unreachable (broadcasts, shuffle state).
    */
  private def sampleLiveHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peakLiveBytes = math.max(peakLiveBytes, used)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One op of the closed loop: counts it, and counts it failed when the
    * body throws (the run goes on with the next op).
    */
  private def op[A](body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"${e.getClass.getName}: ${e.getMessage}"
        None
    }
  }

  // ------------------------------------------------------------ ETL cycle

  /** One untraced star build, timed (wall, process CPU), then checked:
    * the published fact must hold every lineitem row.
    */
  private def cycle(srcDir: String): Option[(Double, Double)] = op {
    val c0 = cpuNanos()
    val t0 = now()
    StarBench.starBuildTo(spark, srcDir, dw)
    val wall = (now() - t0) / 1e9
    val cpu = (cpuNanos() - c0) / 1e9
    Dims.foreach(version(_) = "A")
    checkFactRows()
    (wall, cpu)
  }

  private def checkFactRows(): Unit = {
    val n = spark.read.parquet(s"$dw/fato_vendas").count()
    if (n != lineitemRows) {
      failed += 1
      errors += s"fato_vendas has $n rows, lineitem has $lineitemRows"
    }
  }

  private def dimDf(dim: String, dir: String): DataFrame = dim match {
    case "dim_produto"    => Star.dimProduto(spark, dir)
    case "dim_cliente"    => Star.dimCliente(spark, dir)
    case "dim_vendedor"   => Star.dimVendedor(spark, dir)
    case "dim_localidade" => Star.dimLocalidade(spark, dir)
    case "dim_tempo"      => Star.dimTempo(spark)
  }

  /** The business-key input each dimension's surrogate keys are assigned
    * over, keyed the way the dimension keys it.
    */
  private def skInput(dim: String, dir: String): Option[DataFrame] = {
    def keys(df: DataFrame, k: String) = df.select(col(k).cast("long").as("k"))
    val sk = (df: DataFrame) => SurrogateKeys.auto(df, "sk", Seq(col("k")))
    dim match {
      case "dim_produto" => Some(sk(keys(Tables.part(spark, dir), "p_partkey")))
      case "dim_cliente" =>
        // keyed dedup needs a column to pick the smallest row by
        val c = Tables.customer(spark, dir)
        Some(sk(SurrogateKeys.dedupKeepSmallest(
          c.select(c("c_custkey").cast("long").as("k"), c("c_name")), "k")))
      case "dim_vendedor" | "dim_localidade" =>
        Some(sk(keys(Tables.supplier(spark, dir), "s_suppkey")))
      case _ => None
    }
  }

  /** The star build with each layer forced on its own, inside spans:
    * scan, plan (dims), dims, sk, sink (dims), plan (fact), fact, sink
    * (fact). Layers run one after another, so each span's time and
    * counters belong to that layer alone. The fact is composed exactly as
    * `StarBench.starBuildTo` composes it: over the dimensions just
    * written, read back.
    */
  private def tracedCycle(srcDir: String): Option[Unit] = op {
    tr("cycle") {
      tr("scan") { SrcTables.foreach(t => tr(s"scan.$t") { noop(Tables.table(spark, srcDir, t)) }) }
      val dims = tr("plan") { Dims.map(d => d -> dimDf(d, srcDir)) }
      tr("dims") { dims.foreach { case (d, df) => tr(s"dims.$d") { noop(df) } } }
      tr("sk") { Dims.foreach(d => skInput(d, srcDir).foreach(df => tr(s"sk.$d") { noop(df) })) }
      tr("sink") { dims.foreach { case (d, df) => tr(s"sink.$d") { Sink.parquet(df, s"$dw/$d") } } }
      def rd(t: String, sk: String, bk: String) =
        spark.read.parquet(s"$dw/$t").select(sk, bk)
      val fact = tr("plan") {
        val f = Star.fatoVendasFromDims(
          Tables.orders(spark, srcDir), Tables.lineitem(spark, srcDir),
          rd("dim_produto", "sk_produto", "id_produto_original"),
          rd("dim_cliente", "sk_cliente", "id_cliente_original"),
          rd("dim_vendedor", "sk_vendedor", "id_vendedor_original"),
          rd("dim_localidade", "sk_localidade", "id_localidade_original"))
          .withColumn("ano", (col("sk_tempo") / 10000).cast("int"))
        layer("fact.exchanges") = Plans.shuffleExchanges(f).toDouble
        f
      }
      tr("fact") { noop(fact) }
      tr("sink") { tr("sink.fato_vendas") {
        Sink.parquet(fact, s"$dw/fato_vendas", partitionBy = Seq("ano")) } }
    }
    Dims.foreach(version(_) = "A")
    checkFactRows()
  }

  // ------------------------------------------------------------- serving

  /** The source directory of a dimension version. */
  private def srcOf(version: String): String = if (version == "A") etlSrc else srcB

  private def kpiDf(q: String, year: Int): DataFrame =
    if (q == "kpi8_pruned") {
      // kpiSuite's year-bounded form with the op's own year
      val fatoAll = spark.read.parquet(s"$dw/fato_vendas")
      Kpis.kpi8Sazonalidade(fatoAll.filter(col("ano") === year).drop("ano"),
        spark.read.parquet(s"$dw/dim_tempo"))
    } else StarBench.kpiSuite(spark, dw).toMap.apply(q)()

  private final case class ServeStats(kpiMs: Seq[Double], refreshMs: Seq[Double],
                                      wallS: Double)

  /** Run ops in order as one closed-loop client. Every KPI read builds
    * its plan over the DW as it is now (a refresh may have replaced a
    * dimension) and its answer is kept for the check.
    */
  private def serve(ops: Seq[Op]): ServeStats = {
    val kpiMs = mutable.ArrayBuffer.empty[Double]
    val refreshMs = mutable.ArrayBuffer.empty[Double]
    val t0 = now()
    ops.foreach {
      case KpiOp(q, y) => op {
        val ver = KpiDim(q).map(version).getOrElse("A")
        val s = now()
        val (df, rows) = tr(s"kpi.$q") { val df = kpiDf(q, y); (df, df.collect().toSeq) }
        kpiMs += (now() - s) / 1e6
        if (tr.enabled) filesRead += Plans.filesRead(df).toDouble
        answers += ((q, y, ver, df.columns.toSeq, rows))
      }
      case RefreshOp(d) => op {
        val next = if (version(d) == "A") "B" else "A"
        val dir = srcOf(next)
        val s = now()
        if (!tr.enabled) Sink.parquet(dimDf(d, dir), s"$dw/$d")
        else tr("refresh") {
          val df = dimDf(d, dir)
          tr(s"dims.$d") { noop(df) }
          skInput(d, dir).foreach(k => tr(s"sk.$d") { noop(k) })
          tr("sink") { tr(s"sink.$d") { Sink.parquet(df, s"$dw/$d") } }
        }
        refreshMs += (now() - s) / 1e6
        version(d) = next
      }
    }
    ServeStats(kpiMs.toSeq, refreshMs.toSeq, (now() - t0) / 1e9)
  }

  private def serveMetrics(s: ServeStats): Unit = {
    samples("kpi_ms") = s.kpiMs
    samples("refresh_ms") = s.refreshMs
    metrics("kpi_p50_ms") = median(s.kpiMs)
    metrics("kpi_p75_ms") = quantile(s.kpiMs, 0.75)
    // reads per second of read time: refreshes between reads are timed
    // on their own
    metrics("kpi_qps") = s.kpiMs.size / (s.kpiMs.sum / 1e3)
    // each source-built dimension is refreshed equally often, so the mean
    // moves with any one dimension's cost; the median of a block's four
    // would sit between the second and third cheapest and miss the others
    metrics("refresh_mean_ms") = s.refreshMs.sum / s.refreshMs.size
  }

  // ----------------------------------------------------------- workloads

  /** The reference's size class, read as CSV: set-up stages the sources
    * through `CsvStage` (several times; the median is `setup_s`), the
    * measured loop repeats the whole star build over the staged CSV, and
    * serving follows the batch, as the reference's KPIs.sql follows it:
    * the pass (each KPI once, each refresh once) is measured after its
    * reads have run once to warm up.
    */
  def etlSmallCsv(): Unit = {
    var staged = ""
    val stageS = (1 to SetupReps).map { _ =>
      if (staged.nonEmpty) deleteTree(new File(staged))
      val t0 = now()
      staged = CsvStage.stage(spark, src)
      (now() - t0) / 1e9
    }
    phase("setup")
    samples("setup_s") = stageS
    metrics("setup_s") = median(stageS)
    layer("stage.s") = median(stageS)
    layer("stage.bytes") = treeBytes(new File(staged)).toDouble
    etlSrc = staged
    etlLoop(staged)
    phase("etl")
    val pass = readOps(a("ops")).head
    warmUp(pass)
    phase("warmup")
    serveMetrics(serve(pass))
    sampleLiveHeap()
    phase("serve")
    if (traceRun) {
      tr.enabled = true
      deleteTree(new File(staged))
      tr("stage") { CsvStage.stage(spark, src) }
      traced(staged, pass)
    }
    phase("traced")
    finish(treeBytes(new File(staged)))
  }

  /** Closed-loop serving over the materialized DW: set-up builds it
    * (several times; the median is `setup_s`, and the builds after this
    * JVM's first, cold one give `etl_s`), the reads of the pass (each
    * KPI once) warm the serving path, then the measured block of KPI reads
    * and dimension refreshes runs, whole, until `--seconds` have passed.
    */
  def dwServe(): Unit = {
    val builds = (1 to SetupReps).flatMap(_ => cycle(src))
    phase("setup")
    metrics("setup_s") = median(builds.map(_._1))
    etlMetrics(builds.drop(1))
    sampleLiveHeap()
    // parquet in, so the CSV stage does no work on this workload
    layer("stage.s") = 0.0
    layer("stage.bytes") = 0.0
    val Seq(pass, block) = readOps(a("ops"))
    warmUp(pass)
    phase("warmup")
    val kpiMs = mutable.ArrayBuffer.empty[Double]
    val refreshMs = mutable.ArrayBuffer.empty[Double]
    var wall = 0.0
    val c0 = probe.snap()
    while (wall < seconds) {
      val s = serve(block)
      kpiMs ++= s.kpiMs; refreshMs ++= s.refreshMs; wall += s.wallS
    }
    sampleLiveHeap()
    sparkLayer(Probe.delta(c0, probe.snap()), wall, kpiMs.size + refreshMs.size)
    serveMetrics(ServeStats(kpiMs.toSeq, refreshMs.toSeq, wall))
    phase("serve")
    if (traceRun) traced(src, pass)
    phase("traced")
    finish(treeBytes(new File(src)))
  }

  /** Each KPI read of `ops` twice (the first execution in this JVM pays
    * planning, codegen and JIT, and one is not enough for the reads that
    * follow to run at their later speed), then each refresh of `ops` once,
    * rewriting the version its dimension holds; `Cores` at a time, none a
    * sample. A dimension's first refresh runs slower than its later ones
    * although the star builds ran the same `Star.dim*` and `Sink.parquet`
    * code, so refreshes are warmed like reads. Versions stay as they were,
    * so the first measured refresh of each dimension still changes its
    * answers.
    */
  private def warmUp(ops: Seq[Op]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores)
    try {
      for (_ <- 1 to 2)
        ops.collect { case KpiOp(q, y) => pool.submit(() => kpiDf(q, y).collect()) }
          .foreach(_.get())
      ops.collect { case RefreshOp(d) =>
        pool.submit(() => { Sink.parquet(dimDf(d, srcOf(version(d))), s"$dw/$d"); d })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** One build to warm this JVM (JIT, codegen; not a sample), then timed
    * builds until `--seconds` have passed, at least three.
    */
  private def etlLoop(srcDir: String): Unit = {
    cycle(srcDir)
    val samples = mutable.ArrayBuffer.empty[(Double, Double)]
    val counters = mutable.ArrayBuffer.empty[(Map[String, Long], Double)]
    while (samples.map(_._1).sum < seconds || samples.size < 3) {
      val c0 = probe.snap()
      cycle(srcDir).foreach { s =>
        samples += s
        counters += ((Probe.delta(c0, probe.snap()), s._1))
      }
      if (attempted - samples.size > 4) sys.error("star builds keep failing")
    }
    sampleLiveHeap()
    etlMetrics(samples.toSeq)
    val mid = counters.sortBy(_._2).apply(counters.size / 2)
    sparkLayer(mid._1, mid._2, 1)
  }

  private def etlMetrics(samples: Seq[(Double, Double)]): Unit = {
    this.samples("etl_s") = samples.map(_._1)
    metrics("etl_s") = median(samples.map(_._1))
    metrics("etl_rows_per_s") = lineitemRows / metrics("etl_s")
    metrics("etl_cpu_s") = median(samples.map(_._2))
  }

  /** Spark counters per op (a star build, or a served request). */
  private def sparkLayer(d: Map[String, Long], wallS: Double, ops: Int): Unit = {
    layer("spark.jobs") = d("jobs").toDouble / ops
    layer("spark.tasks") = d("tasks").toDouble / ops
    layer("spark.task_s") = d("task_ms") / 1e3 / ops
    layer("spark.core_busy_frac") = d("task_ms") / 1e3 / (wallS * Cores)
    layer("spark.gc_ms") = d("gc_ms").toDouble / ops
  }

  /** The traced phase: one traced star build and one traced block of
    * serving ops (each KPI and each refresh once), after the untraced
    * measurement in the same process.
    */
  private def traced(srcDir: String, block: Seq[Op]): Unit = {
    tr.enabled = true
    val untracedEtl = metrics("etl_s")
    val untracedKpi = metrics("kpi_p50_ms")
    tracedCycle(srcDir)
    val s = serve(block)
    val cycle = tr.named("cycle").head
    /** Sum of `f` over the spans called `name` inside the traced build. */
    def sum(name: String, f: Span => Double): Double = {
      val ids = mutable.Set(cycle.id)
      tr.spans.filter { sp =>
        val inside = ids.contains(sp.parent)
        if (inside) ids += sp.id
        inside && sp.name == name
      }.map(f).sum
    }
    layer("scan.s") = sum("scan", _.seconds)
    layer("scan.rows") = sum("scan", _.counters("input_rows").toDouble)
    layer("scan.bytes") = sum("scan", _.counters("input_bytes").toDouble)
    layer("dims.s") = sum("dims", _.seconds)
    Dims.foreach(d => layer(s"dims.$d.s") = sum(s"dims.$d", _.seconds))
    layer("sk.s") = sum("sk", _.seconds)
    layer("sk.rows") = Dims.filter(_ != "dim_tempo")
      .map(d => spark.read.parquet(s"$dw/$d").count()).sum.toDouble
    layer("fact.s") = sum("fact", _.seconds)
    layer("fact.shuffle_bytes") = sum("fact", _.counters("shuffle_bytes").toDouble)
    layer("fact.spill_bytes") = sum("fact", _.counters("spill_bytes").toDouble)
    val factRows = spark.read.parquet(s"$dw/fato_vendas").count()
    layer("fact.rows_out") = factRows.toDouble
    layer("fact.rows_dropped") = (lineitemRows - factRows).toDouble
    // sink self time: each Sink.parquet span minus the same DataFrame
    // forced to noop just before it
    layer("sink.s") =
      Dims.map(d => sum(s"sink.$d", _.seconds) - sum(s"dims.$d", _.seconds)).sum +
        sum("sink.fato_vendas", _.seconds) - sum("fact", _.seconds)
    layer("sink.bytes") = treeBytes(new File(dw)).toDouble
    layer("sink.files") = treeFiles(new File(dw)).toDouble
    val kpiSpans = tr.spans.filter(_.name.startsWith("kpi."))
    KpiDim.keys.toSeq.sorted.foreach { q =>
      val xs = kpiSpans.filter(_.name == s"kpi.$q").map(_.seconds * 1e3).toSeq
      layer(s"kpi.$q.ms") = if (xs.isEmpty) 0.0 else median(xs)
    }
    layer("kpi.rows_read_per_query") =
      kpiSpans.map(_.counters("input_rows").toDouble).sum / kpiSpans.size
    layer("kpi.files_read") = filesRead.sum / kpiSpans.size
    layer("trace.overhead_frac") = (cycle.seconds - untracedEtl) / untracedEtl
    layer("trace.kpi_overhead_frac") = (median(s.kpiMs) - untracedKpi) / untracedKpi
    // top-level spans of a traced build account for its wall time
    layer("trace.coverage") = tr.children(cycle).map(_.seconds).sum / cycle.seconds
  }

  /** Final DW size, checked state and the live-heap peak. */
  private def finish(srcBytes: Long): Unit = {
    metrics("peak_heap_mb") = peakLiveBytes / 1048576.0
    metrics("dw_bytes_per_src_byte") = treeBytes(new File(dw)).toDouble / srcBytes
  }

  // -------------------------------------------------------------- output

  def resultJson(): String = {
    val sb = new StringBuilder
    def str(s: String): String = Json.str(s)
    def nums(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    sb ++= "{"
    sb ++= s""""metrics":${nums(metrics)},"layer":${nums(layer)},"phases":${nums(phases)},""" +
      s""""samples":${samples.map { case (k, v) => s"${str(k)}:${v.map(Json.num).mkString("[", ",", "]")}" }.mkString("{", ",", "}")},"""
    sb ++= s""""attempted":$attempted,"failed":$failed,"""
    sb ++= s""""errors":${errors.map(str).mkString("[", ",", "]")},"""
    sb ++= s""""dw":${str(dw)},"etl_src":${str(etlSrc)},"""
    sb ++= s""""versions":${version.toSeq.sorted.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},"""
    sb ++= s""""oracle":{"star_cte":${str(graft.oracle.OracleSql.starCte)},"kpis":"""
    sb ++= KpiSql.names.map { case (q, name) =>
      s"${str(q)}:${str(graft.oracle.OracleSql.all(name))}" }.mkString("{", ",", "}")
    sb ++= "},"
    sb ++= """"answers":["""
    sb ++= answers.map { case (q, y, v, cols, rows) =>
      s"""{"query":${str(q)},"year":$y,"version":${str(v)},""" +
        s""""cols":${cols.map(str).mkString("[", ",", "]")},"rows":""" +
        rows.map(r => r.toSeq.map(Json.value).mkString("[", ",", "]")).mkString("[", ",", "]") + "}"
    }.mkString(",")
    sb ++= "],"
    sb ++= """"spans":["""
    sb ++= tr.spans.map { s =>
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent},""" +
        s""""run":${str(a("run-id"))},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""counters":${s.counters.toSeq.sorted.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")}}"""
    }.mkString(",")
    sb ++= "]}"
    sb.toString
  }
}

/** The KPI names of `kpiSuite` and the `OracleSql` entry each is checked
  * against (kpi8_pruned is checked against kpi8's rows for its year).
  */
object KpiSql {
  val names: Seq[(String, String)] = Seq(
    "kpi1" -> "kpi1_faturamento_bruto", "kpi2" -> "kpi2_faturamento_liquido",
    "kpi3" -> "kpi3_total_descontos", "kpi4" -> "kpi4_itens_vendidos",
    "kpi5" -> "kpi5_top_produtos", "kpi6" -> "kpi6_vendas_categoria",
    "kpi7" -> "kpi7_vendas_nacao", "kpi7_pais" -> "kpi7_vendas_pais",
    "kpi8" -> "kpi8_sazonalidade", "kpi9" -> "kpi9_ranking_vendedores",
    "kpi10" -> "kpi10_ticket_medio")
}

/** Minimal JSON encoding for the result file. Doubles print with Java's
  * round-trip `toString`, so the checker reads back the exact value;
  * decimals print as strings, so they compare exactly.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null                    => "null"
    case s: String               => str(s)
    case d: Double               => num(d)
    case d: java.math.BigDecimal => str(d.toPlainString)
    case n: java.lang.Number     => n.toString
    case o                       => str(o.toString)
  }
}
