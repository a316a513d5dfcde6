package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}

/** Shared distributed staging seam of the file-source replays: every
  * [[ReplayHarness]] replay (the `emissionsFromFiles` twins and the
  * [[StreamStreamJoin]] log) and [[FileReplayState]]'s own runner. Write a
  * replay frame as `chunks`
  * range-ordered parquet part files whose modification times ascend in
  * range order, so the built-in file stream source (which schedules
  * oldest-mtime-first) consumes them as real micro-batches in event order —
  * no input row ever visits the driver.
  *
  * `repartitionByRange` + `sortWithinPartitions` is an executor-side range
  * sort: chunk i's rows all precede chunk i+1's in the staging order, which
  * is what lets watermarks advance monotonically across file-batches. The
  * mtime stamping is the one piece of file METADATA the driver touches;
  * never data.
  */
private[streaming] object FileStage {

  val BaseMtime = 1_000_000_000_000L

  /** Stage `df` into `dir` as `chunks` parquet files range-ordered on
    * `order`, mtimes ascending in range order.
    *
    * The staged frame is pinned once before the write:
    * `repartitionByRange` makes TWO passes over its input (the
    * RangePartitioner runs a sampling job to place the chunk bounds, then
    * the write recomputes the frame to route rows), so a twin whose
    * staged frame carries a heavy upstream (the clean-corpus gates, the
    * BM25 parse stage, delta carves) paid its most expensive stage twice
    * per staging — measured in round 21 as the single largest shared
    * overhead of the ~50 file twins. The cache is the ContextCleaner-owned
    * RDD pin ([[graft.operators.Caching]]), eagerly released after the
    * write; at deployment scale the staged replay is a bounded frame by
    * contract (one recrawl batch), and MEMORY_AND_DISK spills rather than
    * pinning the heap.
    */
  def stage(df: DataFrame, dir: String, chunks: Int, order: Column*): Unit = {
    val (pinned, handle) = graft.operators.Caching.cachedWithHandle(df)
    try {
      pinned.repartitionByRange(chunks, order: _*)
        .sortWithinPartitions(order: _*)
        .write.mode("overwrite").parquet(dir)
    } finally handle.unpersist(blocking = false)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      // mtime IS the micro-batch schedule — a silent failure here degrades
      // to arbitrary pickup order and confusing downstream diffs
      require(f.setLastModified(BaseMtime + i * 60_000L),
        s"mtime stamp failed for $f — file-batch ordering would be arbitrary")
    }
  }

  /** Append a sentinel file-batch scheduled AFTER the `chunks` real files
    * and after any earlier sentinel (`index` counts from 0) — the
    * end-of-stream flush pattern: append-mode state only emits when the
    * watermark passes it, and the watermark computed at the end of batch N
    * applies during batch N+1. ONE trailing sentinel batch finalizes
    * everything on current Spark, because batch N+1 is the trailing
    * NO-DATA micro-batch AvailableNow runs before terminating
    * (`spark.sql.streaming.noDataMicroBatches.enabled`, on by default) —
    * rounds 1-13 appended a second sentinel to BE batch N+1, which r14
    * profiling retired (~0.6 s of pure state-commit overhead per batch; a
    * deployment that disables no-data batches would need the two-sentinel
    * form back, which is why `index` still composes). Sentinel rows must
    * look like real typed rows (a marker filter inside the streaming plan
    * would be pushed below the EventTimeWatermark operator and drop them at
    * the scan — the FileReplayWindowed lesson); callers drop them at the
    * readback.
    */
  def appendSentinel(df: DataFrame, dir: String, chunks: Int, index: Int): Unit = {
    val before = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    df.coalesce(1).write.mode("append").parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
      .filterNot(f => before.contains(f.getName))
      .foreach { f =>
        require(f.setLastModified(BaseMtime + (chunks + index) * 60_000L),
          s"mtime stamp failed for sentinel $f — it must be scheduled last")
      }
  }
}
