package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Materialization barrier with a deployment switch AND a block lifecycle.
  *
  * Default: eager `localCheckpoint` — blocks live on executors, no
  * fault-tolerant write, the right trade at local[N] and on
  * static-allocation clusters (this is what every barrier in the engine
  * used unconditionally before the switch existed).
  *
  * With `graft.checkpoint.dir` set in the Spark conf: eager RELIABLE
  * `checkpoint()` to that directory. Local checkpoint blocks are
  * unrecoverable after executor loss — on a dynamic-allocation cluster or
  * under spot-instance kills, a lost executor aborts every job whose plan
  * hangs off the barrier. Reliable checkpoints pay a write+read through
  * the fault-tolerant filesystem and survive any executor churn, which is
  * the correct trade for long multi-tenant runs at 100 TB.
  *
  * The first reliable barrier of a session pins the SparkContext
  * checkpoint directory (Spark supports only one per context); later
  * changes to the conf value do not re-point it.
  *
  * Lifecycle (r22): a local checkpoint's blocks otherwise live until the
  * driver GCs the RDD object and the ContextCleaner notices — in a long
  * session (a 1000 s bench, any multi-query 100 TB run) corpus-sized
  * barriers accumulate in MEMORY_AND_DISK and contend with live tasks
  * for the unified memory pool (measured r21: 16 s of GC on the zipf
  * staging row at local[32], storage footprint monotonically growing
  * across 151 rows). Every local barrier therefore registers its
  * checkpointed RDD here, and the code that KNOWS when the consuming
  * action set is done releases it:
  *
  *   - iterative loops that supersede a frontier barrier each round call
  *     [[barrierReplacing]] (materialize the new round, then drop the
  *     old round's blocks — safe because a checkpoint truncates lineage,
  *     so the new blocks never re-read the old ones);
  *   - operators whose helper barriers (edge projections, code tables)
  *     are consumed entirely before the returned frame is built call
  *     [[release]] on them at exit;
  *   - builds that write a frame and never read it again release the
  *     barriers its plan reads with [[releaseReadBy]] (the star build's
  *     dimension sinks);
  *   - harnesses (Bench, Verify) call [[releaseAll]] between queries,
  *     after the previous query's action has fully materialized.
  *
  * Releasing is ONLY safe once every consumer has run: a local
  * checkpoint has no lineage, so unpersisted blocks are unrecoverable
  * and a later action on a dependent plan fails. That is why there is no
  * LRU/auto eviction here — eviction cannot know who still holds a plan.
  *
  * Reliable checkpoints (`graft.checkpoint.dir`) are NOT tracked:
  * Spark deletes reliable checkpoint data only when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a STARTUP
  * conf read by the ContextCleaner — it cannot be flipped mid-session,
  * so this object cannot set it for you). Long-running deployments that
  * enable `graft.checkpoint.dir` should set that cleaner conf at submit
  * time, or point the directory at storage with a TTL/lifecycle policy.
  */
object Checkpoint {
  val DirConf = "graft.checkpoint.dir"

  // live local-checkpoint RDDs by id — strong refs on purpose: the
  // registry (not driver GC timing) owns when blocks are dropped
  private val live = new ConcurrentHashMap[Int, RDD[_]]()

  def barrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None =>
        val out = df.localCheckpoint(eager = true)
        rddOf(out).foreach(r => live.put(r.id, r))
        out
    }
  }

  /** The checkpointed internal RDD behind a barrier OUTPUT frame (the
    * exact frame barrier() returned — a transformed descendant has a
    * different logical plan and yields None, making release a no-op).
    */
  private def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Drop one barrier frame's blocks. Call ONLY when every plan built on
    * `df` has finished its actions — the blocks cannot be recomputed.
    * No-op for frames that are not tracked local barriers.
    */
  def release(df: DataFrame): Unit = rddOf(df).foreach(drop)

  /** Drop every tracked barrier `df`'s plan reads. Call ONLY once every
    * plan built on those barriers has finished its actions — e.g. after
    * `df` is written and nothing else holds them. Barriers `df` does not
    * read stay live.
    */
  def releaseReadBy(df: DataFrame): Unit =
    df.queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRDD => l.rdd }
      .foreach(drop)

  private def drop(r: RDD[_]): Unit =
    if (live.remove(r.id) != null) {
      try r.unpersist(blocking = false)
      catch { case _: Throwable => () } // context already stopped
    }

  /** Loop rotation: materialize the next round's barrier, then drop the
    * superseded round's blocks. Ordering matters — the new checkpoint is
    * computed (eagerly) FROM the old blocks before they are dropped.
    */
  def barrierReplacing(df: DataFrame, prev: DataFrame): DataFrame = {
    val out = barrier(df)
    if (prev != null) release(prev)
    out
  }

  /** Drop every live tracked barrier. For harness seams between queries:
    * the previous query's action has fully materialized and its frames
    * are discarded, so nothing can still need the blocks.
    */
  def releaseAll(): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      try e.getValue.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
  }

  /** Number of live tracked barriers (telemetry/tests). */
  def liveCount: Int = live.size()

  /** Chained form: `df.transform(...).barrier()`. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrier(): DataFrame = Checkpoint.barrier(df)
  }
}
