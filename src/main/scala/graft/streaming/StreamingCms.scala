package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.sources.Tables

/** Streaming twin of [[Sketches.cmsCounts]]: the Count-Min counter grid
  * maintained incrementally as a plain update-mode streaming
  * `groupBy(d, bucket).count()` — built-in incremental aggregation, like
  * [[FileReplayHeavyHitters]] — with [[Sketches.cmsEstimate]]'s probe tail
  * over the final grid, against the SAME oracle as the batch form.
  *
  * Scale: state is AT MOST depth x width counters — the CMS's whole point
  * is that this bound is independent of both input size and key
  * cardinality, where the exact streaming counter twin holds one counter
  * per distinct key. Update-mode emissions are cumulative counts, monotone
  * nondecreasing, so the final grid is the per-cell row max,
  * batch-order-independent (increments commute).
  */
object StreamingCms {

  /** The grid update — [[Sketches.cmsSketch]] itself (ONE spelling of the
    * aggregation, so the batch operator and the streaming twin can never
    * disagree). All upstream ops are narrow
    * (filter/projection/explode), so the only stateful operator is the
    * grid-sized count.
    */
  private def gridCounts(rows: DataFrame): DataFrame =
    Sketches.cmsSketch(Sketches.cmsKeyed(rows))

  /** Cumulative counts are monotone: the final cell value is the row max. */
  private def foldEmissions(emissions: DataFrame): DataFrame =
    emissions.groupBy(col("d"), col("bucket"))
      .agg(max(col("cnt")).as("cnt"))

  private def estimateTail(spark: SparkSession, dir: String,
      sketch: DataFrame): DataFrame =
    Sketches.cmsEstimate(sketch,
      Sketches.cmsProbes(Sketches.cmsKeyedEvents(spark, dir)))

  /** Driver query: the same probe estimates as the batch `q_cms_counts`.
    * Raw (event_id, user_id, event_type) fact rows are staged as
    * range-ordered parquet chunks and consumed as real micro-batches; the
    * key/explode projection runs INSIDE the stream (narrow), so each input
    * row crosses the seam once, not once per depth row, and the grid is
    * maintained by genuine partitioned state updates. Order-free
    * (increments commute — the range staging is deterministic chunking
    * only).
    */
  def cmsUserTypeCountsFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame = {
    val staged = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val emissions = ReplayHarness.emissionsFromFiles(
      spark, staged, chunks, statePartitions = 4, prefix = "cms_file",
      outputMode = "update", col("event_id"))(gridCounts)
    estimateTail(spark, dir, foldEmissions(emissions))
  }
}
