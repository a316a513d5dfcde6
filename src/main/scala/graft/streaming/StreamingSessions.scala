package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming sessionization — the incremental twin of
  * [[graft.operators.Relational.sessionWindows]], completing the streaming
  * window family: tumbling (WindowedStats) covers fixed windows, this covers
  * the MERGING window class, where a window's extent is data-dependent and
  * two open windows can coalesce when a bridging event arrives.
  *
  * `session_window` under a watermark keeps one open-session range per
  * (user, session) in the state store; an event within `gap` of an open
  * session extends (or merges) it, and the session finalizes — is emitted
  * exactly once, in append mode — when the watermark passes its end
  * (last event + gap). State is O(open sessions), never O(events): the
  * watermark evicts every finalized session, which is what makes
  * sessionization over an unbounded clickstream viable at all.
  *
  * Scale: state hash-partitions by user across executors. The driver query
  * replays the events table through [[FileReplaySessions]].
  */
object StreamingSessions {

  /** Finalized sessions of an event stream with event-time column `ts`,
    * keyed by `user_id`.
    */
  def sessions(events: DataFrame, gap: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
}
