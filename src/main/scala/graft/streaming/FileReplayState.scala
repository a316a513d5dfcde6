package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.MqttQueries

/** The keyed upsert sink certified WITHOUT driver-side input
  * materialization — the state-table counterpart of [[FileReplayHistory]]:
  * the replay frame is written DISTRIBUTED as range-ordered parquet chunks,
  * consumed by the built-in file stream source under `maxFilesPerTrigger=1`
  * (each file a REAL micro-batch), and every batch is merged into the keyed
  * state by the SAME `foreachBatch` body the broker-replay form uses
  * ([[UpsertSink.merge]]). No input row ever visits the driver; only the
  * final topic-dimension-sized state is read back (the certified-output
  * seam).
  *
  * Unlike the CDC path, correctness here does not even need the chunk
  * ordering: [[UpsertSink.lastPerKey]] reduces by max (ts, msg_id) — a
  * commutative, associative winner rule over the REAL msg_ids carried in
  * the staged rows — so the merge converges to last-committed-per-topic
  * under ANY batch split. The range staging is kept anyway so the replay
  * mirrors real arrival order (and the checkpoint replays batches
  * identically after a restart).
  *
  * Oracle: [[MqttQueries.stateSql]] — the same DuckDB SQL as the batch and
  * broker-replay state forms (reference upsert semantics:
  * /root/reference/mqtt2sql.py:579-629, PK=topic mysql.sql:51).
  */
object FileReplayState {

  def state(spark: SparkSession, dir: String, chunks: Int = 3): DataFrame = {
    val m = MqttQueries.replayMessages(spark, dir)
    val work = java.nio.file.Files.createTempDirectory("graft_file_state").toFile
    try {
      val inDir = new java.io.File(work, "in").getAbsolutePath
      val staged = MqttMsg.staged(m)
      FileStage.stage(staged, inDir, chunks, col("ts"), col("msg_id"))
      val statePath = new java.io.File(work, "state").getAbsolutePath
      val q = spark.readStream
        .schema(staged.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
        .writeStream
        .foreachBatch(UpsertSink.merge(statePath) _)
        .option("checkpointLocation",
          new java.io.File(work, "ckpt").getAbsolutePath)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val merged = StreamingState.detachState(spark, statePath)
      StreamingState.finishState(merged, m)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }
}
