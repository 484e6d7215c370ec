package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.money_cents

/** Dynamic-gap sessionization — the one piece of custom streaming state
  * the engine needs (SURVEY.md §7.4): the built-in `session_window` covers
  * fixed gaps only, so per-event gap policies (e.g. purchases hold a
  * session open longer than views) go through
  * `flatMapGroupsWithState` with event-time timeouts.
  *
  * State per user is one (start µs, last µs, n, cents, gap µs) tuple;
  * eviction is watermark-driven via `EventTimeTimeout`, so state size is
  * bounded by (active users within the watermark horizon), not by stream
  * length — the property that keeps this runnable forever at any scale.
  */
object DynamicSessions {

  /** Gap policy: how long (µs) after an event of this type the session
    * stays open. */
  type GapPolicy = String => Long

  /** The fixed-gap policy (recovers built-in `session_window` semantics). */
  def fixedGap(us: Long): GapPolicy = _ => us

  /** Example dynamic policy: purchases extend the session 3× longer. */
  def purchaseWeightedGap(baseUs: Long): GapPolicy =
    tpe => if (tpe == "purchase") baseUs * 3 else baseUs

  /** Sessionize a (watermarked) events-shaped stream with a per-event gap
    * into `dynamic_sessions`' columns (user_id, session_start_us,
    * session_end_us, n_events, session_value).
    *
    * Each batch's per-user rows fold in (ts µs, event_id) order, the
    * batch query's lag-window order; money sums as exact cents, as
    * `moneySum` does. Emits a session once the watermark passes its
    * dynamic gap (timeout path) or when a new event arrives after the gap
    * (in-batch split). Append-mode output; exactly the built-in session
    * contract, with the gap recomputed per event.
    */
  def sessionize(events: DataFrame, gap: GapPolicy): DataFrame = {
    import events.sparkSession.implicits._
    // state: (start µs, last µs, n, cents, gap µs)
    def out(user: Long, s: (Long, Long, Long, Long, Long)) =
      (user, s._1, s._2, s._3, s._4 / 100.0)
    events
      // ts_us keeps ts's watermark: event-time timeouts need a watermarked
      // input column, and late rows (ts_us ≤ watermark µs) are dropped
      .select(col("user_id"),
        unix_micros(col("ts")).as("ts_us", events.schema("ts").metadata),
        col("event_id"), col("event_type"), money_cents(col("value")))
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long),
        (Long, Long, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(out(user, s))
          } else {
            var cur = state.getOption
            val closed = Vector.newBuilder[(Long, Long, Long, Long, Double)]
            rows.toArray.sortBy(r => (r._2, r._3)).foreach {
              case (_, t, _, tpe, cents) => cur match {
                case Some((start, last, n, sum, g)) if t - last <= g =>
                  // Activity-refresh semantics: the session stays open
                  // gap(latest event) past the latest event — a late
                  // out-of-order arrival (t < last) joins the session
                  // but does not change its deadline. (Deliberately NOT
                  // max(gap, gap(e)): a sticky max would let one early
                  // purchase hold the session open forever, and has no
                  // window-SQL batch twin — `dynamic_sessions` oracles
                  // this exact lag-based contract.)
                  cur = Some((start, math.max(last, t), n + 1, sum + cents,
                    if (t >= last) gap(tpe) else g))
                case prev =>
                  prev.foreach(closed += out(user, _))
                  cur = Some((t, t, 1L, cents, gap(tpe)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the deadline in ms, rounded UP: the session closes only
              // once the watermark is past every µs it could still join at
              state.setTimeoutTimestamp(-Math.floorDiv(-(s._2 + s._5), 1000L))
            }
            closed.result().iterator
          }
      }
      .toDF("user_id", "session_start_us", "session_end_us", "n_events",
        "session_value")
  }
}
