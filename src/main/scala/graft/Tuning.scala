package graft

/** Stats-driven initial shuffle-partition sizing — r18 verdict #4: a
  * 100 TB deployment cannot hand-tune `spark.sql.shuffle.partitions`
  * per query, and UNDERSHOOT is the measured failure mode (the sf100
  * probe at the 32-partition default put ~19 M rows in each sort task
  * and needed a hand-set `SPARK_GRAFT_SHUFFLE_PARTITIONS=256`).
  * Overshoot is free by construction — AQE's coalescePartitions merges
  * small post-shuffle partitions at runtime — but AQE can never SPLIT
  * an undershot exchange, so the INITIAL count must come from the data:
  * derive it from the input relations' physical size and let AQE
  * shrink.
  *
  * The target is ~28 MB of compressed parquet per shuffle partition
  * (≈ 100–200 MB of in-memory row state at parquet's typical 3–7×
  * expansion — the classic per-task sizing), rounded up to a full wave
  * of cores so no wave runs ragged, clamped to [cores, 4096]. On the
  * staged corpora this derives exactly the values measurement picked:
  * sf0.1/sf1/sf10 → 32 (the gated default), sf100 (7.0 GB staged) →
  * 256 (the hand-tuned part-1c setting).
  */
object Tuning {

  val TargetParquetBytesPerPartition: Long = 28L << 20

  /** The session's initial shuffle partitions: [[GraftSession.open]]
    * sizes every main's session from its data dir's physical stats
    * (r19 verdict #3 — the stats-driven posture is the ENGINE's, not
    * one probe's). `SPARK_GRAFT_SHUFFLE_PARTITIONS` stays as the
    * explicit override. At the gated sf0.1 the derived value IS the
    * cores count, so gated artifacts are unchanged.
    */
  def sessionShufflePartitions(dir: String, cores: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.trim)
      .filter(_.nonEmpty).map(_.toInt)
      .getOrElse(math.max(cores, shufflePartitions(dir, cores)))

  /** Production parquet codec posture (guide §6; r21 measured zstd at
    * 0.61× the bytes of the default with serve-time parity on the zipf
    * store — `plans/r21/probes/ZipfCodecAb.scala`). At 100 TB the codec
    * is a storage/IO decision, not a bench knob: deployments set
    * `SPARK_GRAFT_PARQUET_CODEC=zstd`; the gated bench leaves it UNSET
    * so every artifact stays byte- and band-comparable with prior
    * rounds. [[GraftSession.open]] applies it when present.
    */
  def parquetCodec: Option[String] =
    sys.env.get("SPARK_GRAFT_PARQUET_CODEC").map(_.trim).filter(_.nonEmpty)

  /** Apply the flag-gated production I/O posture to a freshly-built
    * session (no-op when the flags are unset, as in the gated bench).
    */
  def applyProductionIo(spark: org.apache.spark.sql.SparkSession): Unit =
    parquetCodec.foreach(c =>
      spark.conf.set("spark.sql.parquet.compression.codec", c))

  /** Initial shuffle-partition count for a session working over `dir`'s
    * top-level tables (the `<table>.parquet` children — derived stores
    * and DW output under the same root are deliberately excluded: they
    * are outputs of this session, not its inputs).
    */
  def shufflePartitions(dir: String, cores: Int,
      target: Long = TargetParquetBytesPerPartition): Int = {
    val bytes = tableBytes(dir)
    val raw = math.ceil(bytes.toDouble / target).toInt
    val waves = math.max(1, math.ceil(raw.toDouble / cores).toInt)
    math.min(4096, waves * cores)
  }

  /** Total data bytes of the top-level `*.parquet` tables under `dir`
    * (file or directory form), skipping `_`-prefixed markers.
    */
  def tableBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    if (!root.isDirectory) return 0L
    // listFiles() returns null on IO/permission errors: an unreadable
    // entry counts as 0 bytes rather than NPE-ing the sizing heuristic
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
      .map(dataBytes).sum
  }

  private def dataBytes(f: java.io.File): Long =
    if (f.getName.startsWith("_")) 0L
    else if (f.isFile) f.length
    else if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(dataBytes).sum
    else 0L
}
