package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.KmvSketch
import graft.operators.Sketches
import graft.sources.Tables

/** Streaming twin of [[Sketches.kmvDistinct]]: the KMV bottom-k sketch
  * maintained incrementally as a plain update-mode streaming
  * `groupBy(group).agg(kmv_kth(...))` — the custom
  * [[graft.functions.KmvSketch]] TypedImperativeAggregate IS the state
  * update, exercised through Spark's built-in streaming-aggregation
  * machinery (each micro-batch's partial buffer merges into the
  * state-store buffer via the same bounded set-union the batch partials
  * use). Certified against the SAME driver oracle as the batch form — the
  * incremental-equals-batch property for the custom-UDAF surface.
  *
  * Scale: per-group state is the serialized sketch, <= 4 + 8k bytes, no
  * matter how many values stream through — the bounded-state contract the
  * exact streaming countDistinct twin cannot offer.
  */
object StreamingKmv {

  /** Driver query: the same (event_type, n_kept, kth_hash, est_distinct)
    * as the batch `q_kmv_distinct`, produced by streaming the events table
    * through the incremental sketch in `chunks` file micro-batches
    * ([[ReplayHarness.emissionsFromFiles]]). The group space is
    * event-type-sized (a handful): 4 state partitions.
    */
  def kmvDistinctUsersFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame =
    foldEmissions(ReplayHarness.emissionsFromFiles(
      spark, kmvHits(spark, dir), chunks, statePartitions = 4,
      prefix = "kmv_file", outputMode = "update",
      col("event_type"), col("hv"))(kmvAgg))

  /** Replay projection: (event_type, hv), nulls dropped — a null user_id
    * hashes to a null hv, and the batch twin's aggregate skips nulls.
    */
  private def kmvHits(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        Sketches.kmvHashOf(col("user_id")).as("hv"))
      .filter(col("hv").isNotNull)

  /** Shared incremental aggregate: the bounded KMV sketch per type. */
  private val kmvAgg: DataFrame => DataFrame =
    _.groupBy(col("event_type"))
      .agg(KmvSketch.agg(col("hv"), Sketches.KmvK).as("__kmv"))
      .select(col("event_type"), col("__kmv.n_kept").as("n_kept"),
        col("__kmv.kth_hash").as("kth_hash"))

  /** The kept set only grows (n_kept nondecreasing) and its k-th smallest
    * only falls (kth_hash nonincreasing): the final sketch is the row
    * max/min per key, batch-order-independent (min skips the pre-capacity
    * null kth emissions).
    */
  private def foldEmissions(emissions: DataFrame): DataFrame =
    emissions
      .groupBy(col("event_type"))
      .agg(max(col("n_kept")).as("n_kept"), min(col("kth_hash")).as("kth_hash"))
      .withColumn("est_distinct",
        Sketches.kmvEstimate(col("n_kept"), col("kth_hash")))
      .orderBy(col("event_type"))
}
