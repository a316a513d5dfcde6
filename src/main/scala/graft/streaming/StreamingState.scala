package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.ContiguousId
import graft.operators.MqttQueries
import graft.sources.mqtt.MqttBroker

/** The reference's OTHER sink — the keyed `mqtt` state table upsert
  * (`INSERT ... ON DUPLICATE KEY UPDATE`, /root/reference/mqtt2sql.py:579-629)
  * — run END-TO-END through Structured Streaming and exposed as a
  * driver-checkable query: replay messages are published into the DSv2
  * source ([[Replay]], the broker-replay seam), consumed
  * under Trigger.AvailableNow in multiple micro-batches, and each batch is
  * merged into the keyed state by [[UpsertSink.merge]] (the same
  * foreachBatch body the JDBC MERGE variant shares). The final state's
  * VALUES come entirely from the streaming merge; only the surrogate ids (a
  * function of first-publish order, which the reference's autoincrement
  * assigns at insert time) are derived from the replay frame, exactly as
  * the batch form does.
  *
  * Oracle: [[MqttQueries.stateSql]] — the same DuckDB SQL that checks the
  * batch state table, so the micro-batch upsert's convergence to
  * last-committed-message-per-topic is certified against an independent
  * engine.
  */
object StreamingState {

  def state(spark: SparkSession, dir: String, chunks: Int = 2): DataFrame = {
    val m = MqttQueries.replayMessages(spark, dir)
    // NOTE the merge tiebreak contract: the source emits buffer POSITIONS as
    // msg_ids; Replay.publish feeds in (ts, msg_id) order, so position order
    // == the batch replay's arrival order and lastPerKey picks the same
    // winner the oracle's ORDER BY ts DESC, msg_id DESC does
    val (broker, n) = Replay.publish(m, "state")
    val work = Files.createTempDirectory("mqtt_state_stream").toFile
    val statePath = s"${work.getAbsolutePath}/state"
    val merged = try {
      val q = spark.readStream
        .format("graft.sources.mqtt.MqttSourceProvider")
        .option("broker", broker)
        .option("maxOffsetsPerTrigger", Replay.perTrigger(n, chunks).toString)
        .load()
        .writeStream
        .foreachBatch(UpsertSink.merge(statePath) _)
        .option("checkpointLocation", s"${work.getAbsolutePath}/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      detachState(spark, statePath)
    } finally {
      MqttBroker.clear(broker)
      org.apache.commons.io.FileUtils.deleteQuietly(work)
    }
    finishState(merged, m)
  }

  /** Detach the merged state from its temp parquet: the state is
    * topic-dimension-sized, so pulling it into a driver-local frame (the
    * certified-OUTPUT seam, same class as the memory-sink readbacks) lets
    * the working dir be deleted before returning a lazy result.
    */
  private[streaming] def detachState(spark: SparkSession,
      statePath: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("topic",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampNTZType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("qos",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("retain",
        org.apache.spark.sql.types.IntegerType)))
    val rows = spark.read.parquet(statePath)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .select(col("topic"), col("ts"), col("value"), col("qos"), col("retain"))
      .collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Surrogate ids in first-publish order (the reference's insert-order
    * autoincrement — an arrival-order dimension of the input, same as the
    * batch stateTable derives) + the display projection. Shared by the
    * broker-replay and file-source forms so the two certificates differ
    * ONLY in how the merged state was produced.
    */
  private[streaming] def finishState(merged: DataFrame, m: DataFrame): DataFrame = {
    val firstArrival = m.groupBy(col("topic"))
      .agg(min(col("msg_id")).as("first_arrival"))
    val withArrival = merged.join(firstArrival, Seq("topic"))
    ContiguousId.assign(withArrival, "id", Seq(col("first_arrival")))
      .select(col("id"), col("ts"), col("topic"),
        hex(col("value")).as("value_hex"), col("qos"), col("retain"))
      .orderBy(col("id"))
  }
}
