package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.sources.Tables

/** Streaming twin of [[Sketches.approxQuantiles]]: the fixed-width
  * histogram maintained incrementally as a plain streaming `groupBy(group,
  * bin).count()` in update mode — Spark's built-in incremental aggregation
  * IS the sketch update, no custom state op needed. The quantile extraction
  * ([[Sketches.quantilesFromBins]]) then runs over the final histogram, so
  * the result equals the batch form exactly and shares its driver oracle.
  *
  * Scale: state is O(groups x bins) counters regardless of how many values
  * stream through — the same input-size-independence the batch sketch has
  * at shuffle time, here as state-store size. Update-mode emissions are
  * per-(group, bin) cumulative counts, monotone nondecreasing, so the final
  * histogram is the per-key row max, batch-order-independent.
  */
object StreamingQuantiles {

  /** Driver query: the same (event_type, n_rows, p50/p90/p99 estimates) as
    * the batch `q_approx_quantiles`, produced by streaming the events table
    * through the incremental histogram in `chunks` file micro-batches
    * ([[ReplayHarness.emissionsFromFiles]]).
    */
  def quantilesByTypeFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame =
    foldEmissions(ReplayHarness.emissionsFromFiles(
      spark, binHits(spark, dir), chunks, statePartitions = 8,
      prefix = "quant_file", outputMode = "update",
      col("event_type"), col("bin"))(
      _.groupBy(col("event_type"), col("bin")).count()))

  /** Replay projection: (event_type, bin), null bins dropped (a
    * null value bins to a null bin; the driver events table carries none —
    * this keeps the seam total).
    */
  private def binHits(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") / Sketches.QuantileBinWidth).as("bin"))
      .filter(col("bin").isNotNull)

  /** Cumulative counts are monotone: the final histogram is the row max. */
  private def foldEmissions(emissions: DataFrame): DataFrame = {
    val binned = emissions
      .groupBy(col("event_type"), col("bin"))
      .agg(max(col("count")).as("__n"))
      .withColumnRenamed("bin", "__bin")
    Sketches.quantilesFromBins(binned, "event_type")
      .orderBy(col("event_type"))
  }
}
