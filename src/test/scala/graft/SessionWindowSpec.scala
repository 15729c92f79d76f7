package graft

import org.apache.spark.sql.functions._
import graft.ops.RelationalOps

/** The built-in session_window sessionizer must be row-identical to the
  * lag/cumsum form — including at the exact 30:00.000000 gap boundary.
  * Empirically (pinned here) session_window MERGES an event exactly gap
  * after the last and SPLITS one 1µs past it — the same `> gap` split
  * predicate the lag form spells, so plain "30 minutes" aligns the two.
  */
class SessionWindowSpec extends SparkSpec {
  import spark.implicits._

  test("native == batch on the real events table") {
    val a = RelationalOps.sessionizeBatch(spark, tiny).collect().toSeq
    val b = RelationalOps.sessionizeNative(spark, tiny).collect().toSeq
    assert(a === b)
  }

  test("exact 30-min gap stays one session; 30min+1µs splits — both forms") {
    val tmp = Scratch.tempDir("graft_sess").toString
    import java.sql.Timestamp
    Seq(
      // user 10: e2 lands exactly 30:00.000000 after e1 (must NOT split),
      // e3 lands 30:00.000001 after e2 (must split)
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10L, "view", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 00:30:00"), 10L, "view", 2.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 01:00:00.000001"), 10L, "view", 3.0, "{}"),
      // user 11: a single event — one session of one row
      (4L, Timestamp.valueOf("2024-01-01 00:00:00"), 11L, "click", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val batch = RelationalOps.sessionizeBatch(spark, tmp).collect().toSeq
    val native = RelationalOps.sessionizeNative(spark, tmp).collect().toSeq
    assert(batch === native)
    val u10 = batch.filter(_.getLong(0) == 10L)
    assert(u10.map(r => (r.getInt(1), r.getLong(2))) === Seq((1, 2L), (2, 1L)),
      "session 1 holds the boundary pair, session 2 the split event")
  }

  test("native == batch on random event sets seeded with exact-gap boundaries") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(1234)
    val gapUs = 30L * 60 * 1000000
    for (trial <- 1 to 4) {
      val rows = (1 to 3).flatMap { uid =>
        var t = Timestamp.valueOf("2024-03-01 00:00:00").getTime * 1000 +
          rnd.nextInt(1000000)
        (1 to 8 + rnd.nextInt(15)).map { i =>
          // inter-arrival mix: random within 90min, EXACTLY the gap, or
          // 1µs past it — the three regimes the split predicate sees
          val delta = rnd.nextInt(3) match {
            case 0 => 1L + math.abs(rnd.nextLong()) % (90L * 60 * 1000000)
            case 1 => gapUs
            case _ => gapUs + 1
          }
          t += delta
          // build at FULL µs precision (Timestamp(millis) would floor
          // away the 1µs boundary this test exists to exercise)
          val ts = new Timestamp((t / 1000000L) * 1000L)
          ts.setNanos(((t % 1000000L) * 1000L).toInt)
          (uid * 100L + i, ts, uid.toLong,
            "view", rnd.nextDouble() * 100, "{}")
        }
      }
      val tmp = Scratch.tempDir(s"graft_sessprop_$trial").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$tmp/events.parquet")
      val a = RelationalOps.sessionizeBatch(spark, tmp).collect().toSeq
      val b = RelationalOps.sessionizeNative(spark, tmp).collect().toSeq
      assert(a === b, s"forms diverged on trial $trial")
    }
  }

  test("native plan: one exchange on user_id feeds the session aggregation") {
    val plan = RelationalOps.sessionizeNative(spark, tiny)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // shuffles: user_id hash for the session agg + the final range sort;
    // the ordinal window must NOT add a third event-level exchange
    assert(allNodes(plan).count(_.isInstanceOf[ShuffleExchangeExec]) <= 2)
  }
}
