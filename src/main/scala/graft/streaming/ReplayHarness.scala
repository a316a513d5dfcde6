package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The ingest seam of the streaming operators. Each operator is a
  * `DataFrame => DataFrame` stateful fold; this harness feeds it a replay
  * frame staged DISTRIBUTED via [[FileStage]] (range-ordered parquet
  * chunks, consumed under `maxFilesPerTrigger = 1`, so each chunk is one
  * REAL micro-batch and no input row visits the driver). One implementation
  * owns the shared mechanics — state-store partition sizing with conf
  * restore, unique sink naming, stream stop, temp-dir and temp-view cleanup
  * on all paths — so a fix applies once.
  *
  * Update-mode callers fold the emissions to the final state: the
  * aggregates here are MONOTONE (counts nondecreasing, min nonincreasing),
  * so the final value per key is the row max/min — batch-order-independent.
  * The only other seam is [[Replay]], which publishes into the DSv2 MQTT
  * source for the exemplar [[StreamingState]]. That exemplar and
  * [[FileReplayState]] keep their own runners: their sink is the
  * [[UpsertSink.merge]] `foreachBatch`, not an emission readback.
  */
private[streaming] object ReplayHarness {

  /** Serializes the conf-set/start/conf-restore dance so INDEPENDENT twins
    * may start their streams from concurrent threads (the r21
    * [[StreamingHybrid]] leg overlap): without the lock, two threads
    * interleaving set/restore can capture each other's altered value and
    * leave the session conf wrong after both finish. Only `start` holds the
    * lock — the streams themselves (and `awaitTermination`) run unlocked,
    * which is where the overlap pays.
    *
    * Known (accepted) leak: the lock serializes only the streaming starts.
    * A BATCH plan built on another thread inside a holder's conf window
    * (e.g. a concurrent leg's staging write) can observe the altered
    * `spark.sql.shuffle.partitions`. Harmless for every current caller —
    * results here are partition-count-independent and the concurrent legs
    * use the same statePartitions — but new concurrent callers must either
    * tolerate planning at the other leg's partition count or take the lock
    * around their batch actions too.
    */
  private val confLock = new Object

  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Start a streaming query with `spark.sql.shuffle.partitions` set to
    * `statePartitions` (size the stateful shuffle — which FREEZES into the
    * checkpoint as the state-store partition count — to the keyspace, not
    * the session default), restoring the session value once `start`
    * returns the running query.
    *
    * LOAD-BEARING ASSUMPTION, documented here because every file twin rides
    * on it: `DataStreamWriter.start()` constructs the `StreamExecution`
    * SYNCHRONOUSLY, and the execution clones the session (and with it the
    * SQL conf) at construction — so the conf restore in this method's
    * `finally` cannot race the running stream; the stream keeps the
    * `statePartitions` value for its whole life while the caller's session
    * is already back to its default. `StreamingConfCaptureSpec` pins the
    * behavior against Spark upgrades: if a Spark version ever deferred the
    * clone past `start()`, that spec (a stream started under an altered
    * conf, restored immediately, asserting the stream kept the altered
    * value) is the tripwire. Every start-a-stream-with-sized-state site
    * must route through here rather than re-implementing the
    * save/set/restore dance.
    *
    * `noDataBatches = false` additionally starts the stream with
    * [[NoDataKey]] off (captured by the same clone-at-start contract). The
    * replays in this object derive it from [[Staged.flushed]]; nothing else
    * passes it.
    */
  def runWithStatePartitions(spark: SparkSession, statePartitions: Int,
      noDataBatches: Boolean = true)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = confLock.synchronized {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNd = spark.conf.get(NoDataKey)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      if (!noDataBatches) spark.conf.set(NoDataKey, "false")
      start
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set(NoDataKey, prevNd)
    }
  }

  /** An end-of-stream flush sentinel, given as data: `maxima` aggregate the
    * staged input (the first one is its max event time) and `rows` builds
    * the sentinel rows from them. The rows must look like real typed rows
    * of the staged schema — see [[FileStage.appendSentinel]].
    */
  final case class Flush(maxima: Seq[Column], rows: Row => DataFrame)

  /** A staged replay: `chunks` range-ordered file-batches under `dir`, plus
    * one sentinel file-batch after them when `flushed`.
    *
    * The no-data rule: a replay's stream runs the trailing no-data
    * micro-batch iff `flushed`. The watermark computed at the end of the
    * sentinel batch is applied only in the batch after it, and with no data
    * left that is the no-data batch — it emits and evicts every append-mode
    * window, session and outer-join row the sentinel released. An
    * unflushed replay is emission-complete at its last data batch
    * (append-mode dedup emits on arrival, the tws/fmgws processors run
    * without timers, the update-mode folds are watermark-free), so there
    * the no-data batch would be pure state-commit cost.
    */
  final case class Staged(dir: String, schema: StructType, flushed: Boolean) {
    /** The replay as a file stream, one micro-batch per file. */
    def stream(spark: SparkSession): DataFrame = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  /** Stage `df` into `dir` via [[FileStage.stage]], then append the `flush`
    * sentinel. An input with no rows has no max event time, so it stages
    * no sentinel: there is nothing to flush.
    */
  def stage(df: DataFrame, dir: String, chunks: Int, flush: Option[Flush],
      order: Column*): Staged = {
    FileStage.stage(df, dir, chunks, order: _*)
    val flushed = flush.exists { f =>
      val maxima = df.agg(f.maxima.head, f.maxima.tail: _*).head()
      val hasRows = !maxima.isNullAt(0)
      if (hasRows) FileStage.appendSentinel(f.rows(maxima), dir, chunks, 0)
      hasRows
    }
    Staged(dir, df.schema, flushed)
  }

  /** Run `query` (built over `replay`'s stream) to a parquet file sink under
    * AvailableNow and return its emissions as a pinned frame. The sink and
    * its checkpoint live in a temp dir deleted before this returns; the
    * stream is stopped on every path. No-data batches follow [[Staged]]'s
    * rule.
    */
  def sinkParquet(spark: SparkSession, replay: Staged, statePartitions: Int,
      prefix: String)(query: => DataFrame): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toFile
    try {
      val outDir = new java.io.File(work, "out").getAbsolutePath
      var schema: StructType = null
      val q = runWithStatePartitions(spark, statePartitions,
          noDataBatches = replay.flushed) {
        val result = query
        schema = result.schema
        result.writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", new java.io.File(work, "ck").getAbsolutePath)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
      }
      try q.awaitTermination() finally q.stop()
      pinnedParquet(spark, schema, outDir)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }

  /** Stream `staged` through `agg` in `chunks` file micro-batches (staged
    * DISTRIBUTED via [[FileStage]], range-ordered on `order`, one REAL
    * micro-batch per file) and return every emission. Every single-source
    * file replay routes through here (the two-source stream-stream join
    * uses [[stage]] and [[sinkParquet]] directly); `agg` receives the raw
    * file-source frame (callers re-type with `.as[T]` where their agg is
    * typed).
    *
    * Readback is the OUTPUT surface: append-mode emissions are
    * ARRIVAL-sized and ride a parquet file sink + distributed pin
    * ([[sinkParquet]]) — no corpus-sized row set ever visits the driver;
    * update-mode emissions are key-bounded and ride the memory sink. Both
    * follow [[Staged]]'s no-data rule; an empty input returns the sink's
    * empty, correctly typed frame.
    */
  def emissionsFromFiles(spark: SparkSession, staged: DataFrame, chunks: Int,
      statePartitions: Int, prefix: String, outputMode: String,
      order: Column*)(agg: DataFrame => DataFrame): DataFrame =
    replay(spark, staged, chunks, statePartitions, prefix, outputMode, None,
      order)(agg)

  /** The flushed form: [[Flush]] sentinel staged after the data (append-mode
    * windows, sessions and outer joins emit only once the watermark passes
    * them, which a bounded replay otherwise never does).
    */
  def emissionsFromFiles(spark: SparkSession, staged: DataFrame, chunks: Int,
      statePartitions: Int, prefix: String, outputMode: String, flush: Flush,
      order: Column*)(agg: DataFrame => DataFrame): DataFrame =
    replay(spark, staged, chunks, statePartitions, prefix, outputMode,
      Some(flush), order)(agg)

  private def replay(spark: SparkSession, staged: DataFrame, chunks: Int,
      statePartitions: Int, prefix: String, outputMode: String,
      flush: Option[Flush], order: Seq[Column])(
      agg: DataFrame => DataFrame): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toFile
    try {
      val replay = stage(staged, new java.io.File(work, "in").getAbsolutePath,
        chunks, flush, order: _*)
      if (outputMode == "append") {
        sinkParquet(spark, replay, statePartitions, prefix)(agg(replay.stream(spark)))
      } else {
        val name = s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"
        try {
          val q = runWithStatePartitions(spark, statePartitions,
              noDataBatches = replay.flushed) {
            agg(replay.stream(spark))
              .writeStream.format("memory").queryName(name)
              .outputMode(outputMode)
              .trigger(Trigger.AvailableNow())
              .start()
          }
          try q.awaitTermination() finally q.stop()
          // update-mode memory-sink readback: key-bounded (the fold's
          // keyspace), not corpus-bounded — the documented OUTPUT surface
          val table = spark.table(name)
          spark.createDataFrame(
            java.util.Arrays.asList(table.collect(): _*), table.schema)
        } finally {
          try spark.catalog.dropTempView(name) catch { case _: Exception => () }
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }

  /** Read a parquet file-sink directory back as a DISTRIBUTED pinned frame
    * (ContextCleaner-owned RDD cache, eagerly materialized) — the read-back
    * survives deletion of the sink directory without any row visiting the
    * driver. The r22 replacement for corpus-sized memory-sink collects
    * across every file-replay harness.
    *
    * LOCAL MODE ONLY: the sink directory is a driver-local temp dir that
    * the callers delete once this returns, so the cache holds the only
    * copy. In local mode the executor is the driver JVM and a
    * MEMORY_AND_DISK partition is never lost while the session lives. On a
    * cluster the executors cannot see a driver-local dir, and a lost
    * executor would recompute its cached partitions from the deleted path;
    * a cluster deployment needs a shared staging path kept for the frame's
    * lifetime (or a `localCheckpoint` instead of the cache).
    */
  private def pinnedParquet(spark: SparkSession, schema: StructType,
      dir: String): DataFrame = {
    val pinned = graft.operators.Caching.cached(
      spark.read.schema(schema).parquet(dir))
    pinned.count() // materialize every partition before the dir dies
    pinned
  }
}
