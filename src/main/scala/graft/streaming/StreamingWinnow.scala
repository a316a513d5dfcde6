package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.WinnowFingerprints
import graft.operators.Winnow
import graft.sources.Tables

/** Streaming passage-novelty filter — the incremental twin of
  * [[graft.operators.Winnow.sharedPassages]]'s index: each arriving
  * document explodes into its winnowing fingerprints INSIDE the streaming
  * query (narrow, stateless), and `dropDuplicatesWithinWatermark` keyed on
  * the 8-byte fingerprint keeps only first-seen passages. An arriving
  * document whose fingerprints ALL collide with state is entirely
  * known content — the ingest-time near-dup signal, at O(distinct
  * fingerprints per horizon) state (never document bodies; the winnowing
  * compression means ~2/(w+1) of the shingle count).
  *
  * Certified surface: the surviving fingerprint KEY SET (the same
  * key-set-only contract as [[StreamingDedup]], for the same reason —
  * which document first carries a fingerprint inside one micro-batch
  * depends on partition processing order).
  */
object StreamingWinnow {

  /** First-seen passage fingerprints of a document stream with event-time
    * column `ts` and text column `text`.
    */
  def novelPassages(docs: DataFrame, horizon: String): DataFrame =
    docs
      .select(col("ts"),
        explode(WinnowFingerprints(col("text"), Winnow.ShingleK, Winnow.WindowW)).as("fp"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Driver query: the documents table replayed through [[novelPassages]]
    * in `chunks` file micro-batches ([[ReplayHarness.emissionsFromFiles]],
    * append mode — first-seen fingerprints emit on arrival, no flush
    * sentinel needed), with synthetic deterministic arrival times and a
    * full-span horizon ([[StreamingDedup.spanHorizon]]: no fingerprint
    * evicts mid-run and re-admits a duplicate), so the survivor set equals
    * the batch DISTINCT fingerprint set and certifies against that oracle.
    */
  def firstSeenPassagesFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val horizon = StreamingDedup.spanHorizon(docs)
    ReplayHarness.emissionsFromFiles(
      spark, StreamingDedup.arrivalsFrame(docs), chunks, statePartitions = 8,
      prefix = "winnow_file", outputMode = "append",
      col("ts"), col("doc_id"))(
      novelPassages(_, horizon))
      .select(col("fp")).orderBy(col("fp"))
  }
}
