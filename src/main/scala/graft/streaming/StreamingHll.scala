package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.sources.Tables

/** Streaming twin of [[Sketches.hllDistinct]]: the HyperLogLog registers
  * maintained incrementally as a plain update-mode streaming
  * `groupBy(group, bucket).max(rho)` — Spark's built-in incremental
  * aggregation IS the register update (an HLL register update is exactly a
  * monotone max). The estimate tail ([[Sketches.hllFromRegisters]]) runs
  * over the final registers, so the result equals the batch form and
  * shares its driver oracle.
  *
  * Scale: state is O(groups x m) integer registers regardless of how many
  * values stream through; emissions are per-(group, bucket) cumulative
  * maxima, monotone nondecreasing, so the final register set is the row
  * max per key, batch-order-independent.
  */
object StreamingHll {

  /** Driver query: the same (event_type, n_zero_buckets, sum_pow,
    * est_distinct) as the batch `q_hll_distinct`, produced by streaming
    * the events table through the incremental registers in `chunks` file
    * micro-batches ([[ReplayHarness.emissionsFromFiles]]). The group space
    * is event-type-sized (a handful): 4 state partitions.
    */
  def hllDistinctUsersFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame =
    foldEmissions(ReplayHarness.emissionsFromFiles(
      spark, hllHits(spark, dir), chunks, statePartitions = 4,
      prefix = "hll_file", outputMode = "update",
      col("event_type"), col("bucket"))(
      _.groupBy(col("event_type"), col("bucket")).agg(max(col("rho")).as("rho_max"))))

  /** Replay projection: (event_type, bucket, rho) observations. */
  private def hllHits(spark: SparkSession, dir: String): DataFrame =
    Sketches.hllObservations(
        Tables.events(spark, dir), "user_id", "event_type")
      .select(col("event_type"), col("__bucket").as("bucket"),
        col("__rho").as("rho"))

  /** Register maxima are monotone: the final register is the row max. */
  private def foldEmissions(emissions: DataFrame): DataFrame = {
    val regs = emissions
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho_max")).as("__M"))
    Sketches.hllFromRegisters(regs, "event_type")
      .orderBy(col("event_type"))
  }
}
