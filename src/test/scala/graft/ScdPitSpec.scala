package graft

import graft.etl.Scd

/** The point-in-time SCD2 lookup: version resolution by order date, the
  * explicit pre-history sentinel, and the plan shape (equi-join on the
  * key, range as residual — never a nested loop).
  */
class ScdPitSpec extends SparkSpec {

  test("PIT join resolves exactly the version valid at each order date") {
    val pit = Scd.factScd2PointInTime(spark, tiny).collect()
    // intervals of one key partition time -> each order matches <= 1
    // version, and the left join keeps unmatched: exactly one row/order
    assert(pit.length.toLong === Tables.orders(spark, tiny).count())
    // o_orderdate surfaces as DATE or TIMESTAMP_NTZ depending on the
    // generated parquet's physical type — normalize to LocalDate
    def day(v: Any): java.time.LocalDate = v match {
      case d: java.sql.Date => d.toLocalDate
      case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
      case ldt: java.time.LocalDateTime => ldt.toLocalDate
      case ld: java.time.LocalDate => ld
      case other => fail(s"unexpected date type: ${other.getClass}")
    }
    val first = java.time.LocalDate.parse("1995-01-01")
    val cut = java.time.LocalDate.parse("1996-06-01")
    pit.foreach { r =>
      val dt = day(r.getAs[Any]("data_pedido"))
      val seg = r.getAs[String]("segmento")
      val cust = r.getAs[Long]("id_cliente")
      if (dt.isBefore(first))
        assert(seg === "SEM_VERSAO", s"pre-history order must be explicit: $r")
      else if (cust % 7 == 0 && !dt.isBefore(cut))
        assert(seg === "ATUALIZADO",
          s"changed customer after the load date must see the new version: $r")
      else
        assert(seg != "ATUALIZADO" && seg != "SEM_VERSAO",
          s"unchanged span must resolve the original segment: $r")
    }
    // both regimes actually occur for changed customers (the load date
    // sits mid-domain, so the version split is exercised, not vacuous)
    val changed = pit.filter(_.getAs[Long]("id_cliente") % 7 == 0)
      .filter(r => !day(r.getAs[Any]("data_pedido")).isBefore(first))
    assert(changed.exists(_.getAs[String]("segmento") == "ATUALIZADO"))
    assert(changed.exists(_.getAs[String]("segmento") != "ATUALIZADO"))
  }

  test("PIT join plans as an equi-join with a residual range, not a nested loop") {
    val plan = Scd.factScd2PointInTime(spark, tiny)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"temporal lookup must shuffle on the customer key only:\n$plan")
  }

  test("composed lifecycle: incremental PIT loads against the maintained store equal the one-shot rebuild; rerun idempotent") {
    val life1 = Scd.factScd2Lifecycle(spark, tiny)
      .drop("valor_pedido").collect()
    val oneShot = Scd.factScd2PointInTime(spark, tiny).collect()
    assert(life1 === oneShot,
      "per-load resolution against the store-as-of-load-time must equal end-state PIT resolution")
    // a rerun replays init + overwrite + merge + append — never doubles
    val life2 = Scd.factScd2Lifecycle(spark, tiny)
      .drop("valor_pedido").collect()
    assert(life2 === life1)
  }

  private def histListing(state: String): Seq[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    Option(new java.io.File(state).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("hist_b"))
      .flatMap(walk).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getPath, f.length, f.lastModified)).toSeq.sortBy(_._1)
  }

  test("versioned state store: batch applies never touch history files and converge to the one-shot table") {
    import org.apache.spark.sql.functions.col
    val state = s"/tmp/graft_scd2_store_${System.nanoTime()}"
    try {
      Scd.initStateStore(spark, tiny, state)
      assert(histListing(state).isEmpty, "initial store holds only open versions")
      val up = Scd.updateBatch(spark, tiny)
      // batch 0: the changed positive keys — closes versions into history
      Scd.applyBatchToStore(spark, state, up.filter(col("id_cliente") >= 0),
        "1999-01-01", batchId = 0L)
      val afterB1 = histListing(state)
      assert(afterB1.nonEmpty,
        "changed keys must close versions into a history dir")
      // batch 1: the brand-new negative keys — must leave every existing
      // history file byte-identical (the IncrementalSpec device)
      Scd.applyBatchToStore(spark, state, up.filter(col("id_cliente") < 0),
        "1999-01-01", batchId = 1L)
      val afterB2 = histListing(state)
      afterB1.foreach { f =>
        assert(afterB2.contains(f), s"batch apply modified history file $f")
      }
      // and the store converges to exactly the one-shot merge
      val store = Scd.readStateStore(spark, state)
        .orderBy("id_cliente", "valid_from", "vigente").collect()
      val oneShot = Scd.scd2(spark, tiny).collect()
      assert(store === oneShot)
    } finally Scratch.rmTree(state)
  }

  test("state store is exactly-once: a replayed committed batch is skipped bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val state = s"/tmp/graft_scd2_replay_${System.nanoTime()}"
    def fullListing: Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(state))
        .map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    try {
      Scd.initStateStore(spark, tiny, state)
      val up = Scd.updateBatch(spark, tiny)
      Scd.applyBatchToStore(spark, state, up, "1999-01-01", batchId = 0L)
      val committed = fullListing
      // foreachBatch redelivery after a restart: the SAME batch id
      // arrives again — the watermark must skip it without touching a
      // single file (no history double-append, no current rewrite)
      Scd.applyBatchToStore(spark, state, up, "1999-01-01", batchId = 0L)
      assert(fullListing === committed,
        "replay of a committed batch must be a no-op on disk")
      val store = Scd.readStateStore(spark, state)
        .orderBy("id_cliente", "valid_from", "vigente").collect()
      assert(store === Scd.scd2(spark, tiny).collect())
    } finally Scratch.rmTree(state)
  }

  test("state store absorbs a crash mid-apply: replay of a half-staged batch converges to the one-shot oracle") {
    import org.apache.spark.sql.functions.col
    val state = s"/tmp/graft_scd2_crash_${System.nanoTime()}"
    try {
      Scd.initStateStore(spark, tiny, state)
      val up = Scd.updateBatch(spark, tiny)
      // batch 0 commits normally
      Scd.applyBatchToStore(spark, state, up.filter(col("id_cliente") >= 0),
        "1999-01-01", batchId = 0L)
      val b1 = up.filter(col("id_cliente") < 0)
      // forge the VERDICT r10 crash window for batch 1: the history dir
      // (and current staging) are written but the commit pointer never
      // advances — the worker died between the two writes and the commit
      Scd.stageBatch(spark, state, "current_b0", b1, "1999-01-01", batchId = 1L)
      // the staged-but-uncommitted history must be invisible to readers
      val preReplay = Scd.readStateStore(spark, state)
        .orderBy("id_cliente", "valid_from", "vigente").collect()
      assert(!preReplay.exists(r => r.getAs[Long]("id_cliente") < 0),
        "uncommitted staging leaked into the read path")
      // Structured Streaming redelivers batch 1 on restart; the replay
      // re-stages over the crashed attempt's files and commits — state
      // must equal the one-shot oracle with NO duplicated history
      Scd.applyBatchToStore(spark, state, b1, "1999-01-01", batchId = 1L)
      val store = Scd.readStateStore(spark, state)
        .orderBy("id_cliente", "valid_from", "vigente").collect()
      assert(store === Scd.scd2(spark, tiny).collect(),
        "replayed half-staged batch must converge to the one-shot table")
    } finally Scratch.rmTree(state)
  }

  test("state store absorbs a crash BETWEEN the two stage writes: history landed, current did not") {
    import org.apache.spark.sql.functions.col
    val state = s"/tmp/graft_scd2_crash2_${System.nanoTime()}"
    try {
      Scd.initStateStore(spark, tiny, state)
      val up = Scd.updateBatch(spark, tiny)
      Scd.applyBatchToStore(spark, state, up.filter(col("id_cliente") >= 0),
        "1999-01-01", batchId = 0L)
      val b1 = up.filter(col("id_cliente") < 0)
      // forge the narrower crash window the two-write stage leaves open:
      // hist_b1 is fully written, the worker dies BEFORE current_b1 —
      // on disk that is a staged history dir with no current sibling
      Scd.stageBatch(spark, state, "current_b0", b1, "1999-01-01", batchId = 1L)
      Scratch.rmTree(s"$state/current_b1")
      // the orphaned history staging is above the committed watermark, so
      // readers must not see it and reads must not fail on the missing dir
      val preReplay = Scd.readStateStore(spark, state)
        .orderBy("id_cliente", "valid_from", "vigente").collect()
      assert(!preReplay.exists(r => r.getAs[Long]("id_cliente") < 0),
        "orphaned history staging leaked into the read path")
      // redelivery re-runs BOTH writes in overwrite mode: the orphaned
      // hist_b1 is replaced, never appended beside — no duplicate
      // (key, valid_from, valid_to) rows can survive the replay
      Scd.applyBatchToStore(spark, state, b1, "1999-01-01", batchId = 1L)
      val store = Scd.readStateStore(spark, state)
      val dupes = store.groupBy("id_cliente", "valid_from", "valid_to")
        .count().filter(col("count") > 1).count()
      assert(dupes === 0, "replay duplicated history rows")
      assert(store.orderBy("id_cliente", "valid_from", "vigente").collect()
        === Scd.scd2(spark, tiny).collect(),
        "crash-between-writes replay must converge to the one-shot table")
    } finally Scratch.rmTree(state)
  }
}
