package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * source for the exemplar [[StreamingState]].
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
    * [[NoDataKey]] off (captured by the same clone-at-start contract), so
    * AvailableNow terminates after the LAST data batch instead of running
    * one trailing no-data micro-batch (~0.5-0.7 s of pure state-commit +
    * offset-log machinery). Only callers audited as emission-complete
    * without watermark-driven flushing may pass false — see
    * [[emissionsFromFiles]] for the audit; the windowed/session replay
    * harnesses ([[FileReplayWindowed]], [[FileReplaySessions]]) DEPEND on
    * that trailing batch for their sentinel flush
    * ([[FileStage.appendSentinel]]) and must keep the default.
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

  /** Stream `staged` through `agg` in `chunks` file micro-batches (staged
    * DISTRIBUTED via [[FileStage]], range-ordered on `order`, one REAL
    * micro-batch per file) and return every emission. Shared by every
    * `*_streaming_file` twin; `agg` receives the raw file-source frame
    * (callers re-type with `.as[T]` where their agg is typed). Append-mode
    * users (dedup / winnow key sets) emit on ARRIVAL — first-seen rows
    * pass `dropDuplicatesWithinWatermark` immediately; the watermark only
    * EVICTS — so unlike windowed/session aggregation no flush sentinel is
    * needed. Readback is the OUTPUT surface: update-mode emissions are
    * key-bounded and ride the memory sink; append-mode emissions are
    * ARRIVAL-sized and ride a parquet file sink + distributed pin instead
    * (r22 — no corpus-sized row set ever visits the driver).
    */
  def emissionsFromFiles(spark: SparkSession, staged: DataFrame, chunks: Int,
      statePartitions: Int, prefix: String, outputMode: String,
      order: org.apache.spark.sql.Column*)(
      agg: DataFrame => DataFrame): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toFile
    try {
      val inDir = new java.io.File(work, "in").getAbsolutePath
      FileStage.stage(staged, inDir, chunks, order: _*)
      // No-data-batch audit (r22): every caller of this harness is
      // emission-complete at the last DATA batch — append-mode dedup/winnow
      // emit first-seen rows on ARRIVAL (`dropDuplicatesWithinWatermark`;
      // the watermark only evicts), the tws/fmgws processors run
      // TimeMode.None()/NoTimeout (no timers to fire), and the update-mode
      // folds are watermark-free monotone aggregates (a no-data batch
      // changes no key). The trailing no-data micro-batch AvailableNow
      // otherwise appends is therefore pure state-commit/offset-log cost —
      // skipped here; the watermark-flush-dependent harnesses
      // (FileReplayWindowed/FileReplaySessions) do not route through this
      // method and keep it.
      if (outputMode == "append") {
        // Scale seam (r22): append-mode emission sets are ARRIVAL-sized
        // (first-seen keys, per-(query,vec) scored pairs) — corpus-scale,
        // so they must never ride the driver-resident memory sink (the
        // guide's no-collect rule; the old readback was a guaranteed
        // driver OOM at 100 TB). Emissions go to a parquet FILE sink
        // (distributed, exactly-once via the sink metadata log) and the
        // read-back is pinned DISTRIBUTED (ContextCleaner-owned RDD
        // cache) before the temp dir is deleted.
        val outDir = new java.io.File(work, "out").getAbsolutePath
        val ckDir = new java.io.File(work, "ck").getAbsolutePath
        var schema: org.apache.spark.sql.types.StructType = null
        val q = runWithStatePartitions(spark, statePartitions,
            noDataBatches = false) {
          val stream = spark.readStream
            .schema(staged.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inDir)
          val result = agg(stream)
          schema = result.schema
          result.writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckDir)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        try q.awaitTermination() finally q.stop()
        pinnedParquet(spark, schema, outDir)
      } else {
        val name = s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"
        try {
          val q = runWithStatePartitions(spark, statePartitions,
              noDataBatches = false) {
            val stream = spark.readStream
              .schema(staged.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(inDir)
            agg(stream)
              .writeStream.format("memory").queryName(name)
              .outputMode(outputMode)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
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
  private[streaming] def pinnedParquet(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String): DataFrame = {
    val pinned = graft.operators.Caching.cached(
      spark.read.schema(schema).parquet(dir))
    pinned.count() // materialize every partition before the dir dies
    pinned
  }
}
