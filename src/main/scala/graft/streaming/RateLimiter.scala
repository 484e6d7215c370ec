package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key token-bucket rate limiting — the stream-protection operator in
  * front of an expensive sink (per-user quota, abuse damping, cost
  * control). Each key holds a bucket of `capacity` tokens refilled at
  * `refillPerSec` in EVENT time, so replays and backfills admit exactly
  * the same events as live runs (a wall-clock bucket would not be
  * reproducible). State per key is two numbers; eviction is
  * watermark-driven (event-time timeout one horizon after the key's last
  * event), so state is bounded by active keys, not stream length.
  *
  * Determinism: Spark hands a group's micro-batch rows in partition
  * order, so the batch is buffered and replayed in (ts, event_id) order
  * before folding the bucket — the per-(key, batch) buffer is bounded by
  * the key's in-batch volume, the same bound `collect_list` aggregation
  * carries.
  *
  * Clock: µs, the resolution of Spark's `TimestampType`, as the other
  * event-time folds (`DynamicSessions`, `StreamingAsOf`). The refill
  * instant, the replay order and the eviction deadline all read a
  * timestamp's exact µs, so two events of one key inside one millisecond
  * fold in event-time order, not `event_id` order. On whole-ms input the
  * refill doubles equal a ms clock's bit for bit.
  */
object RateLimiter {

  final case class LimitEvent(user_id: Long, ts: Timestamp, event_id: Long)

  final case class BucketState(tokens: Double, lastUs: Long)

  final case class Admission(
      user_id: Long, event_id: Long, ts: Timestamp, admitted: Boolean)

  /** `ts` in exact µs since the epoch (`Timestamp.getTime` is ms). */
  private def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** Pure single-key fold — shared by the operator and any batch replay
    * (the spec replays it to prove streaming parity). */
  def foldBucket(state: Option[BucketState], capacity: Double,
      refillPerSec: Double, evs: Seq[LimitEvent]): (BucketState, Seq[Admission]) = {
    var s = state.getOrElse(BucketState(capacity, micros(evs.head.ts)))
    val out = evs.map { e =>
      val now = micros(e.ts)
      val refilled = math.min(capacity,
        s.tokens + math.max(0L, now - s.lastUs) / 1e6 * refillPerSec)
      val admitted = refilled >= 1.0
      s = BucketState(if (admitted) refilled - 1.0 else refilled,
        math.max(now, s.lastUs))
      Admission(e.user_id, e.event_id, e.ts, admitted)
    }
    (s, out)
  }

  /** Rate-limit a (watermarked) event stream per user. Append mode. */
  def rateLimit(events: Dataset[LimitEvent], capacity: Double,
      refillPerSec: Double, idleEvictMs: Long = 3600000L): Dataset[Admission] = {
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[Admission]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[BucketState, Admission](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, it: Iterator[LimitEvent], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val (s, out) = foldBucket(state.getOption, capacity, refillPerSec, evs)
            state.update(s)
            // the ms floor of the µs deadline (the latest event's µs +
            // idleEvictMs): Spark's ms watermark exceeds it exactly when
            // it passes that deadline
            state.setTimeoutTimestamp(evs.last.ts.getTime + idleEvictMs)
            out.iterator
          }
      }
  }
}
