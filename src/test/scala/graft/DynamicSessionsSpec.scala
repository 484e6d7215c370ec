package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{session_window, unix_micros}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{DynamicSessions, StreamingEntry}
import graft.streaming.DynamicSessions.{fixedGap, purchaseWeightedGap}

/** Dynamic-gap sessionization (flatMapGroupsWithState, event-time
  * timeouts): in-batch session splits, watermark-driven emission, and the
  * per-event gap policy the built-in session_window can't express.
  */
class DynamicSessionsSpec extends SparkSpecBase {
  import spark.implicits._

  private def t(minutes: Long) = new Timestamp(1704067200000L + minutes * 60000L)
  private def us(ts: Timestamp) = ts.getTime * 1000L
  private def tsUs(us: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }
  private val Gap = 30L * 60 * 1000000 // 30 minutes in µs

  /** (user_id, ts, event_type, value) rows as the events shape, event_id
    * in list order. */
  private def feed(rows: Seq[(Long, Timestamp, String, Double)]) =
    rows.zipWithIndex.map { case ((u, ts, tpe, v), i) =>
      StreamingEntry.Ev(i.toLong, ts, u, tpe, v) }

  /** Sessions as (user_id, start µs, end µs, n_events, value). */
  private def run(events: Seq[(Long, Timestamp, String, Double)],
      gap: DynamicSessions.GapPolicy, name: String) = {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamingEntry.Ev]
    ms.addData(feed(events))
    // A far-future heartbeat advances the watermark so open sessions close.
    ms.addData(StreamingEntry.Ev(Long.MaxValue, t(10000), 999L, "heartbeat", 0.0))
    val q = DynamicSessions.sessionize(
      ms.toDF().withWatermark("ts", "10 minutes"), gap)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
      .select($"user_id", $"session_start_us", $"session_end_us", $"n_events",
        $"session_value")
      .as[(Long, Long, Long, Long, Double)]
      .collect().filter(_._1 != 999L).sortBy(r => (r._1, r._2))
  }

  test("events within the gap merge; a gap-exceeding event splits the session") {
    val events = Seq(
      (1L, t(0), "view", 1.0),
      (1L, t(20), "view", 2.0),   // within 30 min → same session
      (1L, t(100), "view", 4.0),  // 80 min later → new session
      (2L, t(5), "view", 8.0))
    val out = run(events, fixedGap(Gap), "dyn1")
    assert(out.map(r => (r._1, r._4, r._5)).toSeq ==
      Seq((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
    assert(out(0)._2 == us(t(0)) && out(0)._3 == us(t(20)))
    assert(out(1)._2 == us(t(100)))
  }

  test("the gap is measured in µs: 30 min + 200 µs splits, with µs bounds") {
    // Both events sit at sub-ms phase .3 ms / .5 ms: their ms truncations
    // are exactly 30 min apart (within the gap), their µs times 200 µs
    // more (beyond it).
    val a = us(t(0)) + 300L
    val b = a + Gap + 200L
    val out = run(Seq((1L, tsUs(a), "view", 1.0), (1L, tsUs(b), "view", 2.0)),
      fixedGap(Gap), "dyn_subms")
    assert(out.toSeq == Seq((1L, a, a, 1L, 1.0), (1L, b, b, 1L, 2.0)))
  }

  test("fixed-gap policy agrees with the built-in session_window") {
    val events = (0 until 60).map { i =>
      ((i % 3).toLong, t(i * 7L), "view", 1.0)
    }
    val out = run(events, fixedGap(Gap), "dyn2")
    val builtin = spark.createDataset(feed(events))
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .count()
      .select($"user_id", unix_micros($"session_window.start"), $"count")
      .as[(Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2))
    assert(out.map(r => (r._1, r._2, r._4)).toSeq == builtin.toSeq)
  }

  test("purchase-weighted gap keeps sessions open that a fixed gap would split") {
    val events = Seq(
      (1L, t(0), "purchase", 10.0),
      (1L, t(70), "view", 1.0),  // 70 min: inside 3×30 purchase gap
      (2L, t(0), "view", 1.0),
      (2L, t(70), "view", 1.0))  // 70 min: beyond the plain 30 gap
    val out = run(events, purchaseWeightedGap(Gap), "dyn3")
    val byUser = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byUser(1L) == 1, s"purchase gap should merge user 1: $out")
    assert(byUser(2L) == 2, s"plain gap should split user 2: $out")
  }

  test("streaming dynamic sessions == batch lag/cumsum formulation (dynamic_sessions)") {
    // The flatMapGroupsWithState operator and the oracle-checked batch
    // window idiom must implement the SAME semantics — purchase-weighted
    // gaps over a 90-event mixed stream.
    val events = (0 until 90).map { i =>
      ((i % 3).toLong, t(i * 11L),
        if (i % 5 == 0) "purchase" else "view", (i % 4) + 0.5)
    }
    val streamed = run(events, purchaseWeightedGap(Gap), "dynparity").toSeq
    val batch = graft.operators.Relational
      .dynamicSessionizeDf(spark.createDataset(feed(events)).toDF(), Gap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(streamed === batch && streamed.size > 30,
      s"streaming=${streamed.take(5)}... batch=${batch.take(5)}...")
  }
}
