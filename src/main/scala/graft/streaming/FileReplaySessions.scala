package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The MERGING-window streaming certificate (sessionization): the events
  * table replayed through [[StreamingSessions.sessions]] proves
  * incremental-equals-batch for `session_window` (gap-based sessionization
  * is a pure event-time function, so the equality is exact). The events
  * are staged DISTRIBUTED via [[FileStage]] (range-ordered parquet chunks,
  * one REAL micro-batch per file under `maxFilesPerTrigger = 1`), in
  * event-time order so the watermark advances monotonically and earlier
  * sessions finalize while later chunks are still streaming; the
  * certificate holds at any scale the cluster can write.
  *
  * Append-mode sessionization only emits a session once the watermark
  * passes its end (last event + gap); a bounded replay would strand every
  * trailing open session in state, so ONE flush-sentinel file-batch
  * (user_id -1, event time 24 h past the real maximum) advances the
  * watermark past every real session's end; the trailing NO-DATA
  * micro-batch Spark runs before AvailableNow terminates applies it and
  * flushes them ([[FileStage.appendSentinel]]'s flush contract). The
  * sentinel's own session never finalizes (nothing passes ITS end) and is
  * dropped at the readback — never inside the streaming plan,
  * where the filter would be pushed below the EventTimeWatermark operator.
  *
  * Oracle: the SAME lag + cumulative-sum session SQL as the batch
  * `q_session_windows` ([[graft.operators.Relational.sessionWindowsSql]]),
  * so a green row certifies the merging-window state machine against an
  * independent formulation of gap sessionization.
  */
object FileReplaySessions {

  def userSessions(spark: SparkSession, dir: String, chunks: Int = 3): DataFrame =
    run(spark, dir, chunks,
      stream => StreamingSessions.sessions(stream, gap = "30 minutes",
        watermark = "10 minutes"))

  /** The session replay, parameterized on the sessionizing transform so
    * the `session_window` form and the hand-rolled [[TwsSessions]] state
    * machine certify through the SAME [[ReplayHarness]] replay (and differ
    * ONLY in the operator under test). The transform must map the staged
    * `(event_id, ts, user_id)` stream to
    * `(user_id, session_start, session_end, n_events)` finalized sessions
    * in append mode. An empty replay has no max event time, stages no
    * sentinel and returns the sink's empty frame.
    */
  private[streaming] def run(spark: SparkSession, dir: String, chunks: Int,
      transform: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val staged = Tables.events(spark, dir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"))
    val flush = ReplayHarness.Flush(Seq(max(col("ts"))), maxTs =>
      Seq((-1L, new Timestamp(maxTs.getTimestamp(0).getTime + 24L * 3600 * 1000),
        -1L)).toDF("event_id", "ts", "user_id"))
    // state sized to the open-session keyspace; finalized sessions are
    // session-cardinality, so they ride the harness's parquet sink
    ReplayHarness.emissionsFromFiles(spark, staged, chunks,
        statePartitions = 8, prefix = "graft_file_sessions",
        outputMode = "append", flush, col("ts"), col("event_id"))(transform)
      // drop the flush sentinels here, post-sink. Null-safe: a plain =!=
      // would also drop any NULL user_id group the batch oracle keeps.
      .filter(!col("user_id").eqNullSafe(-1L))
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
      .orderBy(col("user_id"), col("session_start"))
  }
}
