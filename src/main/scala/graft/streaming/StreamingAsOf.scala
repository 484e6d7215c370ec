package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming twin of the batch as-of funnel
  * ([[graft.operators.Relational.funnelConversion]]'s core): each purchase
  * enriched with the same user's most recent view at-or-before it, within
  * `gapUs`. Built on `flatMapGroupsWithState` — the engine's custom-state
  * tier — because a stream-stream interval join buffers BOTH sides for the
  * whole interval, while the as-of merge needs exactly ONE candidate view
  * per user (the same O(1)-state argument as the batch
  * [[graft.plans.AsOfJoinExec]]).
  *
  * Ordering semantics match the batch operator: within a micro-batch,
  * events are processed in (ts µs, views-before-purchases, event_id)
  * order, so a view with the same timestamp as a purchase is visible to it
  * (as-of is `ts >= v_ts`), and tied views resolve to the greatest
  * event_id — the batch tiebreak. Across micro-batches the state keeps
  * the greatest (v_ts, v_event_id) view, so in-order arrival reproduces
  * the batch answer exactly; a view arriving AFTER a purchase from a
  * later batch is not retro-matched (the usual streaming watermark
  * trade-off, same as a late row in a closed window).
  */
object StreamingAsOf {

  /** Events-shaped stream → one row per matched purchase: (user_id,
    * event_id, ts_us, value, v_event_id, v_ts_us). Per-user state is the
    * best view so far, (v_event_id, v_ts_us). */
  def funnelMatches(events: DataFrame,
      gapUs: Long = 3600000000L): DataFrame = {
    import events.sparkSession.implicits._
    events
      .where(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type") === "view", col("value"))
      .as[(Long, Long, Long, Boolean, Double)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Double, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          var cur = state.getOption
          val out = ArrayBuffer.empty[(Long, Long, Long, Double, Long, Long)]
          rows.toArray.sortBy(e => (e._2, if (e._4) 0 else 1, e._1)).foreach {
            case (id, t, _, true, _) =>
              if (cur.forall { case (vId, vTs) => vTs < t || (vTs == t && vId < id) })
                cur = Some((id, t))
            case (id, t, _, false, value) =>
              cur.foreach { case (vId, vTs) =>
                if (vTs <= t && t - vTs <= gapUs) out += ((user, id, t, value, vId, vTs))
              }
          }
          cur.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "event_id", "ts_us", "value", "v_event_id", "v_ts_us")
  }
}
