package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.MqttQueries

/** The reference's defining path — streaming ingestion feeding trigger CDC
  * (the mqtt2sql.py message callback -> the mysql.sql trigger cascade) —
  * executed END-TO-END through Structured Streaming and exposed
  * as a driver-checkable query: per-topic state is carried across REAL
  * micro-batches by [[StatefulCdc.changes]] (or [[TwsCdc.changes]]), then
  * the emitted CDC events get the same id assignment + topic-dimension
  * join as the batch form. The replay frame is written DISTRIBUTED as
  * `chunks` parquet files in (ts, msg_id) range order, then consumed by the
  * built-in file stream source under `maxFilesPerTrigger = 1`, so each file
  * becomes one micro-batch and no input row ever visits the driver.
  *
  * Ordering contract: the CDC diff and the id assignment depend on the
  * (ts, msg_id) total order, so micro-batch boundaries must respect it —
  * `repartitionByRange(ts, msg_id)` makes chunk i's rows all precede chunk
  * i+1's (executor-side range sort, not a driver sort), and the part files'
  * modification times are stamped ascending in partition order because the
  * file source schedules oldest-timestamp-first (the one piece of file
  * METADATA the driver touches; never data).
  *
  * Oracle: [[MqttQueries.historySql]] — the SAME SQL as the batch
  * `lag`-window form, so a green row certifies incremental-equals-batch
  * (SURVEY §5.2d) at any scale the cluster (not the driver) can hold.
  */
object FileReplayHistory {

  /** `useTws = true` runs the SAME replay through [[TwsCdc.changes]]
    * (Spark 4's transformWithState on the RocksDB state store) instead of
    * [[StatefulCdc.changes]] (flatMapGroupsWithState on the default
    * provider) — everything else, including the oracle, is identical, so
    * the two certificates differ ONLY in the state API + store.
    */
  def history(spark: SparkSession, dir: String, chunks: Int = 3,
      useTws: Boolean = false): DataFrame = {
    import spark.implicits._
    val m = MqttQueries.replayMessages(spark, dir)
    val work = java.nio.file.Files.createTempDirectory("graft_file_replay").toFile
    try {
      val inDir = new java.io.File(work, "in").getAbsolutePath
      val staged = m.select(col("msg_id"), col("ts").cast("timestamp").as("ts"),
        col("topic"), col("value"), col("qos"), col("retain"))
      FileStage.stage(staged, inDir, chunks, col("ts"), col("msg_id"))
      val outDir = new java.io.File(work, "out").getAbsolutePath
      val ckDir = new java.io.File(work, "ck").getAbsolutePath
      var schema: org.apache.spark.sql.types.StructType = null
      // state sized to the topic keyspace; the clone-at-start contract is
      // documented at ReplayHarness.runWithStatePartitions. noDataBatches
      // off: both CDC forms emit on arrival (StatefulCdc: fmgws NoTimeout;
      // TwsCdc: TimeMode.None — no timers), so the trailing no-data batch
      // would be pure state-commit cost.
      def maybeRocksDb[T](body: => T): T =
        if (useTws) TwsCdc.withRocksDb(spark)(body) else body
      val q = maybeRocksDb {
        ReplayHarness.runWithStatePartitions(spark, 8, noDataBatches = false) {
          val stream = spark.readStream
            .schema(staged.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inDir)
          val cdc =
            if (useTws) TwsCdc.changes(stream.as[MqttMsg])
            else StatefulCdc.changes(stream.as[MqttMsg])
          schema = cdc.schema
          // file-sink readback (r22): CDC emissions are change-cardinality
          // (corpus-scale), so they ride a distributed parquet sink, never
          // the driver-resident memory sink
          cdc
            .writeStream.format("parquet")
            .option("path", outDir).option("checkpointLocation", ckDir)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
        }
      }
      try q.awaitTermination() finally q.stop()
      val kept = ReplayHarness.pinnedParquet(spark, schema, outDir)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .select(col("ts"), col("topic"), col("value"), col("msg_id"))
      // the SAME post-processing as the batch form
      MqttQueries.finishHistory(kept, m)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }
}
