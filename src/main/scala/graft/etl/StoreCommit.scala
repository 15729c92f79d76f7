package graft.etl

/** Atomic commit pointer for file-backed streaming state stores — the
  * device that upgrades a foreachBatch read-modify-write sink from
  * at-least-once to EXACTLY-ONCE without a transactional table format.
  *
  * The contract: a batch apply stages its writes into per-batch data
  * directories (idempotent `overwrite` mode, so re-staging the same
  * batch replaces rather than duplicates), then advances a single
  * `_committed` pointer file — "<currentDataDir>\t<batchId>" — via
  * temp-file + ATOMIC_MOVE (POSIX/HDFS rename atomicity: a reader sees
  * the old pointer or the new one, never a torn write). Idempotence
  * falls out of two rules:
  *
  *   1. a replayed batch with `batchId <= committed id` is SKIPPED —
  *      Structured Streaming replays an uncommitted batch after a
  *      restart, and its id is stable across the replay, so the
  *      high-watermark check absorbs the redelivery;
  *   2. a replay of a batch that crashed MID-apply (some data dirs
  *      written, pointer not advanced) re-stages into the same
  *      per-batch dirs in overwrite mode — deterministic inputs (the
  *      still-unchanged committed state + the replayed batch) produce
  *      identical output, and the partial files are replaced, not
  *      appended to.
  *
  * `cleanupStale` bounds the store: after a commit, every data dir that
  * shares the committed dir's prefix but is not the committed dir is a
  * superseded or crashed-attempt leftover and is deleted — the store
  * holds exactly one live dir per prefix plus append-only per-batch
  * history dirs.
  */
object StoreCommit {
  import java.nio.file.{Files, Path, Paths, StandardCopyOption}

  private def ptr(stateDir: String): Path = Paths.get(stateDir, "_committed")

  /** (committed data subdir, last applied batch id), if initialized. */
  def committed(stateDir: String): Option[(String, Long)] = {
    val p = ptr(stateDir)
    if (!Files.exists(p)) None
    else Files.readString(p).trim.split('\t') match {
      case Array(dir, id) => Some((dir, id.toLong))
      case other => throw new IllegalStateException(
        s"corrupt commit pointer at $p: ${other.mkString("|")}")
    }
  }

  /** Atomically advance the pointer to (dataDir, batchId). */
  def commit(stateDir: String, dataDir: String, batchId: Long): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    val tmp = Paths.get(stateDir, "_committed.tmp")
    Files.writeString(tmp, s"$dataDir\t$batchId")
    Files.move(tmp, ptr(stateDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** The full exactly-once batch-apply skeleton every single-table
    * maintained store shares: skip replays of committed batches, hand
    * `merge` the prior committed state (if any), stage the result into
    * this batch's dir, advance the pointer, drop superseded dirs. The
    * merge function is the ONLY thing that differs between stores
    * (per-rule SUM, mergeable top-k, append, distinct-union, …).
    */
  def applyOnce(s: org.apache.spark.sql.SparkSession, stateDir: String,
      prefix: String, batchId: Long)(
      merge: Option[org.apache.spark.sql.DataFrame] =>
        org.apache.spark.sql.DataFrame): Unit = {
    val prior = committed(stateDir)
    if (prior.exists(_._2 >= batchId)) return
    val merged = merge(prior.map { case (dir, _) =>
      s.read.parquet(s"$stateDir/$dir") })
    merged.write.mode("overwrite").parquet(s"$stateDir/$prefix$batchId")
    commit(stateDir, s"$prefix$batchId", batchId)
    cleanupStale(stateDir, prefix)
  }

  /** Delete every data dir under `stateDir` that starts with `prefix`
    * but is not the committed dir — superseded state and crashed-attempt
    * staging. Call after a commit (or before a fresh init).
    */
  def cleanupStale(stateDir: String, prefix: String): Unit =
    committed(stateDir).foreach { case (keep, _) =>
      Option(new java.io.File(stateDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
          f.getName != keep)
        .foreach(f => graft.Scratch.rmTree(f.getPath))
    }

  /** Remove the whole store (fresh-init semantics: a lifecycle rerun at
    * a fixed path must not union a previous run's history dirs).
    */
  def wipe(stateDir: String): Unit = graft.Scratch.rmTree(stateDir)
}
