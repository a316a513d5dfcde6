package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

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
  * dropped at memory-sink readback — never inside the streaming plan,
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

  /** The staging + sentinel + readback harness, parameterized on the
    * sessionizing transform so the `session_window` form and the
    * hand-rolled [[TwsSessions]] state machine certify through the SAME
    * replay path (and differ ONLY in the operator under test). The
    * transform must map the staged `(event_id, ts, user_id)` stream to
    * `(user_id, session_start, session_end, n_events)` finalized sessions
    * in append mode.
    */
  private[streaming] def run(spark: SparkSession, dir: String, chunks: Int,
      transform: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_file_sessions").toFile
    try {
      val inDir = new java.io.File(work, "in").getAbsolutePath
      val staged = Tables.events(spark, dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"))
      FileStage.stage(staged, inDir, chunks, col("ts"), col("event_id"))
      // the only driver-visible scalar: max(ts) for sentinel construction
      val maxTs = staged.agg(max(col("ts"))).head().getTimestamp(0)
      if (maxTs == null) // empty replay: nothing to sessionize (or flush)
        return spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("session_start",
              org.apache.spark.sql.types.TimestampNTZType),
            org.apache.spark.sql.types.StructField("session_end",
              org.apache.spark.sql.types.TimestampNTZType),
            org.apache.spark.sql.types.StructField("n_events",
              org.apache.spark.sql.types.LongType))))
      val t = new Timestamp(maxTs.getTime + 24L * 3600 * 1000)
      FileStage.appendSentinel(
        Seq((-1L, t, -1L)).toDF("event_id", "ts", "user_id"),
        inDir, chunks, 0)
      val outDir = new java.io.File(work, "out").getAbsolutePath
      val ckDir = new java.io.File(work, "ck").getAbsolutePath
      var schema: org.apache.spark.sql.types.StructType = null
      // state sized to the open-session keyspace; the clone-at-start
      // contract is documented at ReplayHarness.runWithStatePartitions.
      // noDataBatches stays ON: the sentinel flush depends on the trailing
      // no-data batch applying the advanced watermark (scaladoc above).
      val q = ReplayHarness.runWithStatePartitions(spark, 8) {
        val stream = spark.readStream
          .schema(staged.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir)
        val out = transform(stream)
        schema = out.schema
        // file-sink readback (r22): finalized sessions are
        // session-cardinality (corpus-scale), so they ride a distributed
        // parquet sink, never the driver-resident memory sink
        out.writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckDir)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      }
      try q.awaitTermination() finally q.stop()
      // drop the flush sentinels here, post-sink. Null-safe: a plain =!=
      // would also drop any NULL user_id group the batch oracle keeps.
      ReplayHarness.pinnedParquet(spark, schema, outDir)
        .filter(!col("user_id").eqNullSafe(-1L))
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
        .orderBy(col("user_id"), col("session_start"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }
}
