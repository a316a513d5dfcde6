package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.HeavyHitters
import graft.sources.Tables

/** Streaming twin of [[HeavyHitters.topKeys]], the UPDATE-MODE
  * aggregation family's certificate: per-key counters maintained
  * incrementally as a plain update-mode streaming `groupBy(key).count()`.
  * The keyed fact rows are staged DISTRIBUTED by
  * [[ReplayHarness.emissionsFromFiles]] and consumed as real micro-batches
  * (`maxFilesPerTrigger = 1`), so the counters are maintained by genuine
  * incremental state updates over partitioned input.
  *
  * Scale: state is one counter per DISTINCT key — exact heavy-hitters is
  * keyspace-bounded by nature (the batch form's shuffle carries the same
  * cardinality). [[StreamingBoundedHeavyHitters]] is the bounded-state
  * form for a key universe that overwhelms memory, at the cost of
  * approximation outside its exact regime.
  *
  * Update mode needs none of the append-mode machinery: no watermark, no
  * flush sentinels, no event-time ordering constraint — counters emit
  * every batch they change and are MONOTONE nondecreasing, so the final
  * counter per key is the row max over all emissions regardless of batch
  * boundaries or arrival order. (The range staging on `o_orderkey` is for
  * deterministic chunking only, not a semantic requirement — the one
  * file-replay certificate whose correctness is order-free.)
  *
  * The memory-sink readback is the OUTPUT surface (distinct-key x batch
  * emissions, bounded by the key cardinality — never fact rows); the
  * ranking/share tail ([[HeavyHitters.rankCounts]]) then runs over
  * key-cardinality counters. Oracle: the SAME SQL as the batch
  * `q_heavy_hitters` ([[HeavyHitters.hotCustomersSql]]).
  */
object FileReplayHeavyHitters {

  def hotCustomers(spark: SparkSession, dir: String, chunks: Int = 3): DataFrame = {
    val staged = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val emissions = ReplayHarness.emissionsFromFiles(
      spark, staged, chunks, statePartitions = 8, prefix = "hh_file",
      outputMode = "update", col("o_orderkey"))(
      _.groupBy(col("o_custkey")).count())
    // cumulative counts are monotone: the final counter is the row max
    val counts = emissions
      .groupBy(col("o_custkey"))
      .agg(max(col("count")).as("n_rows"))
    HeavyHitters.rankCounts(counts, "o_custkey", 10)
  }
}
