package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CleanCorpus
import graft.sources.Tables

/** Streaming twin of the fused corpus-clean pipeline
  * ([[graft.operators.CleanCorpus]]): the language and quality gates are
  * STATELESS per-row expressions (they run identically inside a streaming
  * micro-batch projection), so the only stateful stage is the dedup — here
  * an update-mode `groupBy(content_hash).agg(min(doc_id), count)` — the
  * built-in incremental aggregation, like [[StreamingQuantiles]].
  *
  * Certified surface: the (content_hash, keep_id, n_copies) dedup ledger,
  * against a DuckDB oracle composing the same gates. min(doc_id) and count
  * are monotone under accumulation, so the final ledger is the per-key
  * (min, max) over update-mode emissions, batch-order-independent. State
  * is O(distinct surviving content hashes) — the gates run BEFORE state,
  * so filtered-out documents never touch the state store (the same
  * rows-never-reach-the-shuffle property the batch plan has).
  */
object StreamingCleanCorpus {

  /** The stateless gate projection — shared verbatim with the batch
    * pipeline via CleanCorpus/TextAnalysis expressions.
    */
  def gated(docs: DataFrame): DataFrame =
    CleanCorpus.gatedDocs(docs).select(col("doc_id"), col("content_hash"))

  /** Driver query: the dedup ledger of the streamed clean pipeline in
    * `chunks` file micro-batches, equal to the batch pipeline's grouping
    * and ordered by content_hash for the oracle. The gate projection runs
    * INSIDE the staging write (executor-side), so rejected documents never
    * even reach the staged replay, let alone the driver.
    */
  def cleanLedgerFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame =
    foldEmissions(ReplayHarness.emissionsFromFiles(
      spark, gated(Tables.documents(spark, dir)), chunks, statePartitions = 8,
      prefix = "clean_file", outputMode = "update",
      col("content_hash"), col("doc_id"))(ledgerAgg))

  /** Shared incremental aggregate: first-kept id + copy count per hash. */
  private val ledgerAgg: DataFrame => DataFrame =
    _.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** min is monotone nonincreasing, count nondecreasing: final = (min, max). */
  private def foldEmissions(emissions: DataFrame): DataFrame =
    emissions
      .groupBy(col("content_hash"))
      .agg(min(col("keep_id")).as("keep_id"), max(col("n_copies")).as("n_copies"))
      .orderBy(col("content_hash"))
}
