package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    def maybeRocksDb[T](body: => T): T =
      if (useTws) TwsCdc.withRocksDb(spark)(body) else body
    // state sized to the topic keyspace; CDC emissions are
    // change-cardinality, so they ride the harness's parquet sink
    val cdc = maybeRocksDb {
      ReplayHarness.emissionsFromFiles(spark, MqttMsg.staged(m), chunks,
          statePartitions = 8, prefix = "graft_file_replay",
          outputMode = "append", col("ts"), col("msg_id")) { stream =>
        val msgs = stream.as[MqttMsg]
        (if (useTws) TwsCdc.changes(msgs) else StatefulCdc.changes(msgs)).toDF()
      }
    }
    val kept = cdc.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .select(col("ts"), col("topic"), col("value"), col("msg_id"))
    // the SAME post-processing as the batch form
    MqttQueries.finishHistory(kept, m)
  }
}
