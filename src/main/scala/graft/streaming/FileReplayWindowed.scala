package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MqttQueries

/** The event-time windowed aggregation (ST2) certified END-TO-END as a
  * streaming query in APPEND mode — the mode a production job runs,
  * because it is the one with the bounded-state contract: a window is
  * emitted exactly ONCE when the watermark passes its end, and its state
  * evicts. (The existing WindowedStatsSpec asserts plan equivalence; this
  * query makes the full watermark lifecycle a driver-checked certificate
  * against the SAME oracle as the batch `mqtt_windowed_counts`.)
  *
  * Append mode only finalizes windows the watermark has passed, so a
  * bounded replay would otherwise never emit its trailing windows: ONE
  * FLUSH SENTINEL (excluded-from-results topic, event time 3 h past the
  * real maximum) arrives in its own final file-batch. The watermark is
  * computed at the END of batch N and applied (state emitted and evicted)
  * during batch N+1 — which for the sentinel batch is the trailing
  * NO-DATA micro-batch Spark runs before AvailableNow terminates
  * (`spark.sql.streaming.noDataMicroBatches.enabled`, on by default), so
  * a second sentinel batch is redundant (rounds 1-13 carried two; r14
  * profiling showed each sentinel batch costs ~0.6 s of pure
  * state-commit overhead and the spec re-proved the single-sentinel
  * equality). The sentinel is dropped from the aggregated output — the
  * standard end-of-stream flush pattern for certifying append-mode
  * windows over finite input. Ingest, flush and readback are
  * [[ReplayHarness.emissionsFromFiles]]'s (no driver-side input
  * materialization; the only driver-visible scalars are max(ts)/max(msg_id)
  * for sentinel construction, and an empty replay has none to flush).
  */
object FileReplayWindowed {

  val FlushTopic = "__wm_flush"

  def hourlyStats(spark: SparkSession, dir: String, chunks: Int = 3,
      watermarkDelay: String = "30 minutes"): DataFrame = {
    import spark.implicits._
    // the flush sentinel: one row, 3 h past the real max event time, in
    // its own LAST-scheduled file-batch (watermark advance; the trailing
    // no-data batch performs the flush)
    val flush = ReplayHarness.Flush(Seq(max(col("ts")), max(col("msg_id"))),
      bounds => Seq((bounds.getLong(1) + 1L,
        new Timestamp(bounds.getTimestamp(0).getTime + 3L * 3600 * 1000),
        FlushTopic, Array.empty[Byte], 0, 0))
        .toDF("msg_id", "ts", "topic", "value", "qos", "retain"))
    // NOTE: the sentinel filter must NOT be part of the streaming plan — a
    // `topic =!= FlushTopic` predicate there gets pushed below the
    // EventTimeWatermark operator (topic is not the event-time column), so
    // the sentinel rows would be dropped at the scan and never advance the
    // watermark. It is applied to the readback instead.
    ReplayHarness.emissionsFromFiles(spark,
        MqttMsg.staged(MqttQueries.replayMessages(spark, dir)), chunks,
        statePartitions = 8, prefix = "graft_file_windowed",
        outputMode = "append", flush, col("ts"), col("msg_id"))(
      WindowedStats.hourlyStats(_, watermarkDelay))
      .filter(col("topic") =!= FlushTopic)
      .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
      .select(col("win_start"), col("topic"), col("n_msgs"),
        col("total_bytes"))
      .orderBy(col("win_start"), col("topic"))
  }
}
