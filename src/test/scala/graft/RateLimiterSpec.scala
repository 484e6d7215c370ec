package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.RateLimiter
import graft.streaming.RateLimiter.{Admission, LimitEvent}

/** Event-time token bucket: the streamed admissions must equal a plain
  * Scala replay of the same fold over the same events — across
  * micro-batch boundaries (state carries tokens between batches). */
class RateLimiterSpec extends SparkSpecBase {
  import spark.implicits._

  private def t(seconds: Long) = new Timestamp(1704067200000L + seconds * 1000L)

  // 2 users; user 0 sends a burst every second, user 1 trickles every 30 s.
  private val evs: Seq[LimitEvent] =
    (0 until 60).map(i => LimitEvent(0L, t(i.toLong), i.toLong)) ++
      (0 until 10).map(i => LimitEvent(1L, t(i * 30L), 1000L + i))

  private val capacity = 3.0
  private val refillPerSec = 0.2 // 1 token per 5 s

  private def replay(events: Seq[LimitEvent]): Set[(Long, Long, Boolean)] =
    events.groupBy(_.user_id).flatMap { case (_, es) =>
      RateLimiter.foldBucket(None, capacity, refillPerSec,
        es.sortBy(e => (e.ts.getTime, e.event_id)))._2
    }.map(a => (a.user_id, a.event_id, a.admitted)).toSet

  test("streamed admissions across two micro-batches == single-fold replay") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[LimitEvent]
    val (batch1, batch2) = evs.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(40)
    ms.addData(batch1)
    ms.addData(batch2)
    val q = RateLimiter.rateLimit(
      ms.toDS().withWatermark("ts", "10 minutes"), capacity, refillPerSec)
      .writeStream.format("memory").queryName("ratelimit")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ratelimit").as[Admission].collect()
      .map(a => (a.user_id, a.event_id, a.admitted)).toSet
    assert(streamed === replay(evs), "streamed admissions diverge from replay")
    // The burst user must actually get limited; the trickle user must not.
    val burstAdmitted = streamed.count { case (u, _, ok) => u == 0L && ok }
    assert(burstAdmitted < 60 && burstAdmitted >= 3,
      s"burst user admitted $burstAdmitted of 60")
    assert(streamed.filter(_._1 == 1L).forall(_._3), "trickle user was throttled")
  }

  test("two events inside one millisecond fold in µs order, not event_id order") {
    implicit val ctx = spark.sqlContext
    def at(us: Long) = {
      val ts = new Timestamp(1704067200000L)
      ts.setNanos((us * 1000L).toInt)
      ts
    }
    // 300 µs apart in one ms; the earlier event carries the larger id
    val pair = Seq(LimitEvent(5L, at(400L), 1L), LimitEvent(5L, at(100L), 2L))
    val ms = MemoryStream[LimitEvent]
    ms.addData(pair)
    val q = RateLimiter.rateLimit(ms.toDS().withWatermark("ts", "10 minutes"),
        capacity = 1.0, refillPerSec)
      .writeStream.format("memory").queryName("ratelimit_us")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val admitted = spark.table("ratelimit_us").as[Admission].collect()
      .map(a => a.event_id -> a.admitted).toMap
    assert(admitted === Map(2L -> true, 1L -> false),
      "the token must go to the earlier-µs event")
  }

  test("bucket refills in event time: spaced events re-admit after a burst") {
    val burst = (0 until 5).map(i => LimitEvent(7L, t(i.toLong), i.toLong))
    val later = LimitEvent(7L, t(60L), 99L) // 55+ s later: fully refilled
    val (_, out) = RateLimiter.foldBucket(None, capacity, refillPerSec, burst :+ later)
    assert(out.take(3).forall(_.admitted) && !out(3).admitted && !out(4).admitted)
    assert(out.last.admitted, "refilled bucket still throttling")
  }
}
