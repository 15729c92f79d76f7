package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Structured Streaming jobs driven synchronously through MemoryStream +
  * memory sink; the windowed rollup is additionally checked against its
  * batch twin on identical input.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sample = Seq(
    Event(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
    Event(2, ts("2024-01-01 00:40:00"), 1, "click", 2.0),
    Event(3, ts("2024-01-01 01:10:00"), 1, "purchase", 10.0),
    Event(4, ts("2024-01-01 00:30:00"), 2, "click", 5.0),
    // user 2: >30 min gap → second session
    Event(5, ts("2024-01-01 02:00:00"), 2, "click", 7.0))

  test("hourly rollup: streaming result == batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = Streams.hourlyRollup(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("rollup_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("rollup_out")
      .orderBy("hora", "event_type").collect().toSeq
    val batch = Streams.hourlyRollup(sample.toDF())
      .orderBy("hora", "event_type").collect().toSeq
    assert(streamed === batch)
    assert(streamed.map(r => (r.getAs[Timestamp]("hora").toString,
      r.getAs[String]("event_type"), r.getAs[Long]("n"))) === Seq(
      ("2024-01-01 00:00:00.0", "click", 3L),
      ("2024-01-01 01:00:00.0", "purchase", 1L),
      ("2024-01-01 02:00:00.0", "click", 1L)))
  }

  test("curation keep-min state: cross-batch retroactive release converges to min") {
    import graft.streaming.Streams.{CurDoc, CurDelta}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CurDoc]
    val q = Streams.curateKeepMinStream(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("curmin_out").start()
    // batch 1: doc 5 is the first of hash A → claims keeper-ship
    mem.addData(CurDoc("A", 5, "en", 10))
    q.processAllAvailable()
    // batch 2: doc 3 (same hash, smaller id) arrives late → 5 released,
    // 3 claims; doc 7 is never a keeper and contributes nothing
    mem.addData(CurDoc("A", 3, "pt", 8), CurDoc("A", 7, "en", 9))
    q.processAllAvailable(); q.stop()
    val deltas = spark.table("curmin_out").as[CurDelta].collect().toSeq
    assert(deltas.toSet === Set(
      CurDelta(5, "en", 10, 1), CurDelta(5, "en", 10, -1), CurDelta(3, "pt", 8, 1)))
    // the net-positive set is exactly the batch keeper relation
    val net = deltas.groupBy(d => (d.doc_id, d.lang, d.n_tokens))
      .view.mapValues(_.map(_.delta).sum).filter(_._2 > 0).keys.toSet
    assert(net === Set((3L, "pt", 8)))
  }

  test("stream-static fact append joins dims without reshuffling the stream") {
    implicit val sqlCtx = spark.sqlContext
    val dimP = Seq((1, 101L), (2, 102L)).toDF("sk_produto", "id_produto_original")
    val mem = MemoryStream[(Long, Long, Int, Double)]
    mem.addData((1L, 101L, 2, 10.0), (2L, 999L, 1, 5.0)) // 999 unmatched
    val lines = mem.toDF().toDF("line_id", "product_id", "qty", "price")
    val q = Streams.factAppend(lines, dimP)
      .writeStream.outputMode("append")
      .format("memory").queryName("fact_out").start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("fact_out").orderBy("line_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Int]("sk_produto") === 1)
    assert(rows(0).getAs[java.math.BigDecimal]("valor_total").doubleValue() === 20.0)
    assert(rows(1).isNullAt(rows(1).fieldIndex("sk_produto"))) // left join keeps it
  }

  test("streaming dedup drops replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    mem.addData(sample.take(3): _*) // replay first three events
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_out").count() === sample.length) // no dupes
  }

  test("stream-stream interval join attributes purchases to in-window clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 0),
      Event(2, ts("2024-01-01 00:50:00"), 1, "click", 0),
      Event(3, ts("2024-01-01 02:00:00"), 2, "click", 0)) // wrong user
    purchases.addData(
      Event(10, ts("2024-01-01 01:00:00"), 1, "purchase", 9.99), // both clicks in window
      Event(11, ts("2024-01-01 02:30:00"), 1, "purchase", 5.0))  // none in window
    val q = Streams.attributionStream(purchases.toDF(), clicks.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("attr_out")
      .orderBy("purchase_id", "click_id").collect()
    assert(rows.map(r => (r.getAs[Long]("purchase_id"),
      r.getAs[Long]("click_id"))).toSeq === Seq((10L, 1L), (10L, 2L)))
  }

  test("left-outer interval join emits unmatched purchases after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = Streams.attributionStreamOuter(purchases.toDF(), clicks.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_outer_out").start()
    clicks.addData(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 0))
    purchases.addData(
      Event(10, ts("2024-01-01 01:00:00"), 1, "purchase", 9.99), // matched
      Event(11, ts("2024-01-01 02:30:00"), 2, "purchase", 5.0))  // no click ever
    q.processAllAvailable()
    // advance both watermarks far past purchase 11's join window so the
    // unmatched row must be released with null click columns
    clicks.addData(Event(2, ts("2024-01-01 09:00:00"), 9, "click", 0))
    purchases.addData(Event(12, ts("2024-01-01 09:00:00"), 9, "purchase", 1.0))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("attr_outer_out")
      .filter(col("purchase_id").isin(10L, 11L))
      .orderBy("purchase_id").collect()
    assert(rows.map(_.getAs[Long]("purchase_id")).toSeq === Seq(10L, 11L))
    assert(rows(0).getAs[Long]("click_id") === 1L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("click_id")),
      "unmatched purchase must emit with null click side")
  }

  test("checkpointed file-source stream: restart resumes exactly-once") {
    val watch = Scratch.tempDir("graft_watch").toString
    val ckpt = Scratch.tempDir("graft_ckpt").toString
    val out = Scratch.tempDir("graft_out").toString
    def feed(evs: Seq[Event]): Unit =
      evs.toDF().repartition(1).write.mode("append").parquet(watch)

    feed(sample)
    val schema = sample.toDF().schema
    def start() = Streams.dedupStream(
        spark.readStream.schema(schema).parquet(watch))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()

    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    // crash/restart: replays land as new files; dedup state + source
    // offsets come back from the checkpoint
    feed(sample.take(3))
    feed(Seq(Event(99, ts("2024-01-01 03:00:00"), 3, "click", 1.5)))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    val result = spark.read.parquet(out)
    assert(result.count() === sample.length + 1) // replays dropped, new kept
    assert(result.select("event_id").distinct().count() === sample.length + 1)
  }

  test("scd2 foreachBatch store: a killed-and-restarted query resumes from the checkpoint onto the one-shot table") {
    val base = Scratch.tempDir("graft_scd2_restart")
    def sub(n: String) = base.resolve(n).toString
    val up = graft.etl.Scd.updateBatch(spark, tiny)
    graft.etl.Scd.initStateStore(spark, tiny, sub("state"))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(up.schema)
        .option("maxFilesPerTrigger", "1").parquet(sub("in"))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.etl.Scd.applyBatchToStore(spark, sub("state"), b,
            "1999-01-01", id)
        }
        .option("checkpointLocation", sub("cp"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    up.filter(col("id_cliente") >= 0).coalesce(1)
      .write.mode("append").parquet(sub("in"))
    runOnce() // run 1 processes the changed keys, then the query dies
    up.filter(col("id_cliente") < 0).coalesce(1)
      .write.mode("append").parquet(sub("in"))
    // the restarted query resumes from the checkpoint: source offsets
    // skip the processed file, and any redelivered batch id bounces off
    // the store's commit watermark instead of double-applying
    runOnce()
    val store = graft.etl.Scd.readStateStore(spark, sub("state"))
      .orderBy("id_cliente", "valid_from", "vigente").collect()
    assert(store === graft.etl.Scd.scd2(spark, tiny).collect(),
      "restart must land on exactly the one-shot version table")
  }

  test("sessionization: idle sessions flush on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_flush_out").start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    // after the first batch the watermark stands at 01:50 (max 02:00 −
    // 10 min) and the no-data follow-up batch fires timers: user 1's open
    // session (idle deadline 01:10+30 = 01:40) flushes, user 2's (deadline
    // 02:30) is still live → 2 gap-closed + 1 timeout-flushed
    assert(spark.table("sess_flush_out").count() === 3)
    // an unrelated user's much-later event advances the watermark past
    // user 2's idle deadline — the session must flush WITHOUT any further
    // event from user 2
    mem.addData(Event(6, ts("2024-01-01 06:00:00"), 3, "click", 0.0))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("sess_flush_out")
      .orderBy("user_id", "inicio").collect()
    // user 1: [00:05] gap-closed, then [00:40→01:10] timeout-flushed;
    // user 2: [00:30] gap-closed, then [02:00] timeout-flushed;
    // user 3's session stays open (nothing advanced the watermark past it)
    assert(rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"),
      r.getAs[Double]("valor"))).toSeq ===
      Seq((1L, 1, 1.0), (1L, 2, 12.0), (2L, 1, 5.0), (2L, 1, 7.0)))
    assert(rows(1).getAs[Timestamp]("inicio") === ts("2024-01-01 00:40:00"))
    assert(rows(1).getAs[Timestamp]("fim") === ts("2024-01-01 01:10:00"))
    // the flushed set now equals the all-sessions batch twin for every
    // quiesced user (1 and 2) — streamed totals match batch semantics
    val twin = Streams.sessionize(sample.toDS(), gapMinutes = 30)
    // batch mode emits only gap-closed sessions (no timers exist there):
    // users 1 and 2 each have exactly one such session in `sample`
    assert(twin.collect().map(s => (s.user_id, s.n_events, s.valor)).sorted
      === Seq((1L, 1, 1.0), (2L, 1, 5.0)))
  }

  test("sessionization: a cross-batch late event lands in its true session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30,
        watermarkDelay = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_late_out").start()
    // batch 1: user 1 at 00:00 and 00:45 — a 45-min hole that LOOKS like a
    // session boundary if events were finalized eagerly
    mem.addData(
      Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(3, ts("2024-01-01 00:45:00"), 1, "click", 4.0))
    q.processAllAvailable()
    // batch 2: the 00:25 event arrives late (within the 1 h watermark) and
    // bridges the hole — 00:00/00:25/00:45 are all within the 30-min gap,
    // so the true answer is ONE session of 3 events
    mem.addData(Event(2, ts("2024-01-01 00:25:00"), 1, "click", 2.0))
    q.processAllAvailable()
    assert(spark.table("sess_late_out").count() === 0,
      "nothing may finalize while the watermark still allows earlier events")
    // batch 3: a new user-1 session plus an unrelated event that drags the
    // watermark to 02:00, sealing and flushing the bridged session
    mem.addData(
      Event(4, ts("2024-01-01 02:30:00"), 1, "click", 8.0),
      Event(5, ts("2024-01-01 03:00:00"), 9, "click", 0.0))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("sess_late_out").collect()
    assert(rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"),
      r.getAs[Timestamp]("inicio").toString, r.getAs[Timestamp]("fim").toString,
      r.getAs[Double]("valor"))).toSeq ===
      Seq((1L, 3, "2024-01-01 00:00:00.0", "2024-01-01 00:45:00.0", 7.0)))
    // the streamed emission equals the batch twin on the same events: one
    // gap-closed session (user 1's 02:30 and user 9's events stay open in
    // both forms)
    val all = Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(3, ts("2024-01-01 00:45:00"), 1, "click", 4.0),
      Event(2, ts("2024-01-01 00:25:00"), 1, "click", 2.0),
      Event(4, ts("2024-01-01 02:30:00"), 1, "click", 8.0),
      Event(5, ts("2024-01-01 03:00:00"), 9, "click", 0.0))
    val twin = Streams.sessionize(all.toDS(), gapMinutes = 30)
      .collect().map(s => (s.user_id, s.n_events, s.inicio.toString,
        s.fim.toString, s.valor)).toSeq
    assert(twin === rows.map(r => (r.getAs[Long]("user_id"),
      r.getAs[Int]("n_events"), r.getAs[Timestamp]("inicio").toString,
      r.getAs[Timestamp]("fim").toString, r.getAs[Double]("valor"))).toSeq)
  }

  test("sessionization: 30-min gap closes a session (stateful)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable(); q.stop()

    // CLOSED sessions are emitted by gap; idle sessions behind the
    // watermark flush by timer in the no-data follow-up batch.
    // user 1: 00:05→00:40 is a 35-min gap → first session (1 event)
    //   closes; 00:40→01:10 is exactly 30 min (not > gap) → second
    //   session spans both events, then times out (deadline 01:40 <
    //   watermark 01:50) → flushes with 2 events, valor 12.
    // user 2: 00:30→02:00 gap → first session closes; the 02:00 session's
    //   deadline (02:30) is past the watermark → stays open in state.
    val rows = spark.table("sess_out").orderBy("user_id", "inicio").collect()
    assert(rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"),
      r.getAs[Double]("valor"))).toSeq ===
      Seq((1L, 1, 1.0), (1L, 2, 12.0), (2L, 1, 5.0)))
  }

  test("streamed LSH index: cross-batch pairs emit exactly once per band") {
    import graft.streaming.Streams.BandedDoc
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[BandedDoc]
    val q = Streams.lshPairsStream(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("lsh_out").start()
    // batch 1: docs 1, 2 share band A (same-batch pair); doc 3 alone in B
    mem.addData(BandedDoc("A", 1L), BandedDoc("A", 2L), BandedDoc("B", 3L))
    q.processAllAvailable()
    val afterB1 = spark.table("lsh_out").as[(Long, Long)].collect().toSet
    assert(afterB1 === Set((1L, 2L)))
    // batch 2: doc 4 arrives in band A (pairs with STATE: 1 and 2) and in
    // band B (pairs with 3); doc 1 re-announcing band A must NOT re-pair
    mem.addData(BandedDoc("A", 4L), BandedDoc("B", 4L), BandedDoc("A", 1L))
    q.processAllAvailable(); q.stop()
    val all = spark.table("lsh_out").as[(Long, Long)].collect()
    assert(all.length === all.distinct.length, "no duplicate band pairs")
    assert(all.toSet === Set((1L, 2L), (1L, 4L), (2L, 4L), (3L, 4L)))
  }

  test("streamed simhash index verifies hamming at emission, across batches") {
    import graft.streaming.Streams.BandedSig
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[BandedSig]
    val q = Streams.simhashPairsStream(mem.toDS(), maxHamming = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("sim_out").start()
    // batch 1: doc 1 (sig 0b0000) registers in band "k"
    mem.addData(BandedSig("k", 1L, 0L))
    q.processAllAvailable()
    assert(spark.table("sim_out").count() === 0)
    // batch 2: doc 2 shares the band at hamming 2 (emit, verified from
    // state), doc 3 shares it at hamming 8 (candidate REJECTED at
    // emission — a band collision is not a near-dup)
    mem.addData(BandedSig("k", 2L, 3L), BandedSig("k", 3L, 255L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("sim_out").as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 2)))
  }

  test("streamed jaccard index verifies exact overlap at emission, across batches") {
    import graft.streaming.Streams.PrefixDoc
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PrefixDoc]
    val q = Streams.jaccardPairsStream(mem.toDS(), threshold = 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("jac_out").start()
    // batch 1: doc 1 registers under its prefix shingle 1
    mem.addData(PrefixDoc("1", 1L, Seq(1L, 2L, 3L, 4L), 4))
    q.processAllAvailable()
    assert(spark.table("jac_out").count() === 0)
    // batch 2: doc 2 shares the prefix group; |∩|=3, |∪|=5 → 0.6 ≥ 0.5
    // (emit, verified from state); doc 3 collides in the group but
    // overlaps only on shingle 1 → 1/7 (candidate REJECTED at emission)
    mem.addData(PrefixDoc("1", 2L, Seq(1L, 2L, 3L, 5L), 4),
      PrefixDoc("1", 3L, Seq(1L, 9L, 10L, 11L), 4))
    q.processAllAvailable(); q.stop()
    val got = spark.table("jac_out").as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 0.6)))
  }

  test("funnel fold in batch mode equals the relational funnel") {
    import spark.implicits._
    val ev = Tables.events(spark, tiny).selectExpr(
      "CAST(event_id AS BIGINT) AS event_id", "ts",
      "CAST(user_id AS BIGINT) AS user_id", "event_type",
      "CAST(value AS DOUBLE) AS value")
      .as[graft.streaming.Streams.Event]
    val folded = graft.streaming.Streams.funnelFold(ev).toDF()
      .select("user_id", "t_view", "t_click", "t_compra", "converteu")
      .orderBy("user_id").collect()
    val batch = graft.ops.RelationalOps.funnelSteps(spark, tiny).collect()
    assert(folded.length == batch.length)
    folded.zip(batch).foreach { case (f, b) =>
      assert(f.getLong(0) == b.getLong(0))
      (1 to 3).foreach { i =>
        assert(f.isNullAt(i) == b.isNullAt(i), s"user ${f.getLong(0)} col $i")
        if (!f.isNullAt(i))
          assert(f.getTimestamp(i) == b.getTimestamp(i), s"user ${f.getLong(0)} col $i")
      }
      assert(f.getInt(4) == b.getInt(4))
    }
  }

  test("replay harness: each staged shard is one micro-batch, in staging order") {
    def batches(shards: Seq[Seq[Long]]): List[(Long, Seq[Long])] = {
      val r = new Streams.Replay(spark, "graft_replay_spec")
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]
      r.fold(r.stage(shards.map(_.toDF("id")))) { (b, id) =>
        seen.add(id -> b.as[Long].collect().toSeq.sorted): Unit
      }
      seen.asScala.toList
    }
    // a parity split: a staging that collapsed both shards into one file
    // would deliver one batch, and no cross-batch state would be exercised
    val ids = (1L to 12L).toList
    val (even, odd) = ids.partition(_ % 2 == 0)
    assert(batches(Seq(even, odd)) === List(0L -> even, 1L -> odd))
    // a corpus and two sentinels: the sentinels must follow the corpus,
    // one batch each, or they cannot advance the watermark past it
    assert(batches(Seq(ids, Seq(-1L), Seq(-2L))) ===
      List(0L -> ids, 1L -> Seq(-1L), 2L -> Seq(-2L)))
  }

  test("AvailableNow and maxFilesPerTrigger appear in src/main/scala only in Streams.Replay") {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."), "src/main/scala")
    val comment = """\s*(\*|/\*\*|\*/|//).*"""
    def lines(p: java.nio.file.Path) = Files.readAllLines(p).asScala.toSeq
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => lines(p).zipWithIndex.collect {
        case (l, i) if !l.matches(comment) &&
            (l.contains("AvailableNow") || l.contains("maxFilesPerTrigger")) =>
          (root.relativize(p).toString, i)
      })
    val streams = lines(root.resolve("graft/streaming/Streams.scala"))
    val start = streams.indexWhere(_.contains("final class Replay("))
    val end = streams.indexWhere(_ == "  }", start)
    assert(start >= 0 && hits.size == 2 &&
      hits.forall { case (f, i) =>
        f == "graft/streaming/Streams.scala" && i > start && i < end },
      s"stage and drain gated streams through Streams.Replay, not a copy: $hits")
  }
}
