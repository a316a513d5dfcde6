package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** STREAM-STATIC join certificate (§2.7): each micro-batch of the event
  * stream is enriched against a static dimension table inside the
  * streaming plan — the most common production streaming join (fact
  * stream x broadcast dim), stateless by construction: the static side
  * is planned as a broadcast-hash join per micro-batch, no join state,
  * no watermark requirement.
  *
  * Scale: the dim is broadcast once per micro-batch plan; the only
  * stateful operator is the downstream update-mode aggregation, whose
  * state is segment-cardinality counters. Money math is cent-scaled longs
  * (the repo exactness rule). Certified against the plain batch
  * join+aggregate oracle — stream-static-equals-batch.
  */
object StreamStaticJoin {

  /** Driver query: per-market-segment event count and value total,
    * computed by streaming the events table in `chunks` file micro-batches
    * ([[ReplayHarness.emissionsFromFiles]]) joined to the static customer
    * dim. The group space is segment-sized (5): 4 state partitions.
    */
  def segmentActivityFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame =
    foldEmissions(ReplayHarness.emissionsFromFiles(
      spark, eventCents(spark, dir), chunks, statePartitions = 4,
      prefix = "ss_join_file", outputMode = "update",
      col("user_id"), col("value_cents"))(enrichedAgg(spark, dir)))

  /** Replay projection: (user_id, value_cents) — cent-scaled longs
    * (the repo exactness rule).
    */
  private def eventCents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        floor(col("value") * 100).cast("long").as("value_cents"))

  /** Streaming plan: broadcast-dim enrichment + segment counters. */
  private def enrichedAgg(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val dim = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    _.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value_cents")).as("value_cents"))
  }

  /** Counts and non-negative cent sums are monotone: final = row max. */
  private def foldEmissions(emissions: DataFrame): DataFrame =
    emissions
      .groupBy(col("c_mktsegment"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("value_cents")).as("value_cents"))
      .orderBy(col("c_mktsegment"))

  /** DuckDB mirror: the plain batch join + aggregate. */
  val segmentActivitySql: String =
    """SELECT c_mktsegment, count(*) AS n_events,
      |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
      |         AS value_cents
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
}
