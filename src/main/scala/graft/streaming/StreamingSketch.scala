package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.operators.Sketches
import graft.sources.Tables

/** One pre-bucketed observation entering the streaming sketch. */
final case class BucketHit(event_type: String, bucket: Int)

/** Per-group sketch occupancy after a micro-batch. */
final case class SketchCount(event_type: String, n_buckets_hit: Long)

/** Streaming twin of [[Sketches.approxDistinct]]: the linear-counting
  * sketch maintained INCREMENTALLY across micro-batches via
  * `mapGroupsWithState`, with the same driver oracle as the batch form —
  * certifying that the incremental sketch converges to exactly the batch
  * sketch (the incremental-equals-batch property the CDC/state queries
  * establish for the MQTT pipeline, here for an approximate aggregate).
  *
  * Scale: per-group state is a FIXED 128-byte bitmask (m = 1024 bits) —
  * the whole point of sketch-backed streaming aggregation: state size is
  * O(groups x m/8) no matter how many values stream through, where an
  * exact streaming countDistinct would hold the full value set. Groups
  * hash-partition across executors with no cross-key coordination.
  */
object StreamingSketch {

  /** Bitmask update for one group and one micro-batch. The output is the
    * CUMULATIVE occupancy, monotone nondecreasing — so the final answer is
    * the max over emitted rows, batch-order-independent.
    */
  private def updateGroup(key: String, batch: Iterator[BucketHit],
      state: GroupState[Array[Byte]]): SketchCount = {
    val mask = state.getOption
      .getOrElse(new Array[Byte]((Sketches.LinearCountBuckets / 8).toInt))
    batch.foreach { h =>
      mask(h.bucket >> 3) = (mask(h.bucket >> 3) | (1 << (h.bucket & 7))).toByte
    }
    state.update(mask)
    var hits = 0L
    var i = 0
    while (i < mask.length) { hits += Integer.bitCount(mask(i) & 0xff); i += 1 }
    SketchCount(key, hits)
  }

  def counts(hits: Dataset[BucketHit]): Dataset[SketchCount] = {
    implicit val stateEnc = Encoders.BINARY
    implicit val outEnc = Encoders.product[SketchCount]
    hits.groupByKey(_.event_type)(Encoders.STRING)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(updateGroup)
  }

  /** Driver query: the same (event_type, n_buckets_hit, est_distinct) as
    * the batch `q_approx_distinct`, produced by streaming the events table
    * through the incremental sketch in `chunks` file micro-batches
    * ([[ReplayHarness.emissionsFromFiles]]). The group space is
    * event-type-sized (a handful): 4 state partitions.
    */
  def approxDistinctUsersFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame = {
    import spark.implicits._
    foldEmissions(ReplayHarness.emissionsFromFiles(
      spark, bucketHits(spark, dir), chunks, statePartitions = 4,
      prefix = "sketch_file", outputMode = "update",
      col("event_type"), col("bucket"))(df => counts(df.as[BucketHit]).toDF()))
  }

  /** Shared replay projection: (event_type, bucket), nulls dropped — a
    * null user_id hashes to a null bucket; the batch twin's countDistinct
    * ignores nulls, so drop them here too (the primitive Int encoder would
    * otherwise throw and the twins would diverge).
    */
  private[streaming] def bucketHits(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        Sketches.bucketOf(col("user_id")).cast("int").as("bucket"))
      .filter(col("bucket").isNotNull)

  /** Cumulative occupancy is monotone: the final sketch is the row max. */
  private[streaming] def foldEmissions(emissions: DataFrame): DataFrame =
    emissions
      .groupBy(col("event_type"))
      .agg(max(col("n_buckets_hit")).as("n_buckets_hit"))
      .withColumn("est_distinct", Sketches.estimate(col("n_buckets_hit")))
      .orderBy(col("event_type"))
}
