package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Streaming exact dedup — the incremental twin of
  * [[graft.operators.Dedup.exact]] for ingest-time pipelines: a document
  * whose content hash was already seen within the watermark horizon is
  * dropped at arrival, so downstream (feature extraction, training shards)
  * never processes the duplicate at all.
  *
  * State design: `dropDuplicatesWithinWatermark` keys state by the 128-bit
  * content hash only (never the document body), and the watermark EVICTS
  * each key once it ages out — state is O(distinct docs per horizon), not
  * O(stream). That bounded-state trade is the streaming-correct one: exact
  * global dedup over an unbounded stream would need unbounded state, so the
  * guarantee is scoped to the horizon and the batch operators (exact /
  * MinHash / SimHash) remain the full-corpus pass.
  */
object StreamingDedup {

  /** Distinct-within-horizon documents of a stream with event-time column
    * `ts` and text column `text`.
    */
  def dedupped(docs: DataFrame, horizon: String): DataFrame =
    deduppedBy(docs, horizon, "content_hash",
      md5(trim(col("text")).cast("binary")))

  /** [[dedupped]] generalized over the dedup key: any narrow projection of
    * the arriving row (byte-exact hash, canonical-form hash, ...) can key
    * the horizon-scoped state.
    */
  def deduppedBy(docs: DataFrame, horizon: String, keyName: String,
      key: Column): DataFrame =
    docs
      .withColumn(keyName, key)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(keyName)

  /** Driver query: the documents table replayed through [[dedupped]] in
    * `chunks` file micro-batches, returning the surviving content-hash KEY
    * SET (ordered). The synthetic arrival frame ([[arrivalsFrame]]) is
    * STAGED distributed ([[ReplayHarness.emissionsFromFiles]], append mode
    * — survivors emit on arrival, the watermark only evicts, so no flush
    * sentinel), and the horizon covers the whole replay span
    * ([[spanHorizon]]), so no state evicts mid-run and the survivor set
    * equals the batch exact-dedup key set — the incremental-equals-batch
    * property, checked against the batch form's DuckDB oracle. Horizon
    * EVICTION semantics (re-arrival after expiry flows again) are
    * exercised at unit scale by StreamingDedupSpec, where the full-horizon
    * oracle configuration would be vacuous.
    *
    * Output is the key set only: WHICH physical row survives as a key's
    * first arrival depends on intra-batch partition processing order, so
    * doc ids are deliberately not part of the certified surface — the
    * batch operator ([[graft.operators.Dedup.exact]]) remains the
    * keep-list authority. State is keyed by the 128-bit hash only
    * (O(distinct keys per horizon), never the document bodies) and
    * hash-partitions across executors.
    */
  def exactWithinHorizonFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val horizon = spanHorizon(docs)
    ReplayHarness.emissionsFromFiles(
      spark, arrivalsFrame(docs), chunks, statePartitions = 4,
      prefix = "dedup_file", outputMode = "append",
      col("ts"), col("doc_id"))(
      deduppedBy(_, horizon, "content_hash",
        md5(trim(col("text")).cast("binary"))))
      .select(col("content_hash")).orderBy(col("content_hash"))
  }

  /** The incremental twin of [[graft.operators.Dedup.normalizedDups]]: a
    * document whose CANONICAL form (case-fold/scrub/collapse —
    * [[graft.operators.TextAnalysis.normalize]]'s hash) was already seen
    * within the horizon is dropped at arrival, so SHOUTED/re-punctuated
    * reposts never reach downstream. Replays the probe-augmented corpus
    * (every probe twin collapses into its original's canonical key, so the
    * certified drop provably fires) with a span-derived horizon — probe ids
    * push arrival times ~11 days out, and a fixed horizon would silently
    * start evicting on a larger corpus. Same bounded-state design as
    * [[exactWithinHorizonFromFiles]]: state is the 128-bit canonical hash
    * per key per horizon, never bodies.
    */
  def normalizedWithinHorizonFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame = {
    val docs = graft.operators.Dedup.normProbeAugmented(
      Tables.documents(spark, dir))
    val horizon = spanHorizon(docs)
    ReplayHarness.emissionsFromFiles(
      spark, arrivalsFrame(docs), chunks, statePartitions = 4,
      prefix = "dedup_norm_file", outputMode = "append",
      col("ts"), col("doc_id"))(
      deduppedBy(_, horizon, "norm_hash", md5(canonicalText.cast("binary"))))
      .select(col("norm_hash")).orderBy(col("norm_hash"))
  }

  /** The incremental twin of [[graft.operators.Multimodal.mediaDedupExact]]:
    * an arriving media row whose PAYLOAD BYTES hash was already seen
    * within the horizon is dropped at arrival — the ingest-time
    * blob-store pass (asset re-uploads, mirrored files) so downstream
    * decode/embed stages never touch the duplicate bytes. The key is the
    * media content hash ([[graft.operators.Multimodal.asMedia]]'s
    * content_md5 spelling — the RAW payload bytes, deliberately NOT the
    * trimmed-text key of [[exactWithinHorizonFromFiles]]: blob dedup has no
    * whitespace semantics), state never holds the bytes, and the probe
    * family (+4e6 byte-exact copies) proves the drop fires. Span-derived
    * horizon (probe ids push arrivals ~46 days out). Oracle: the distinct payload-hash key set of the same
    * augmented corpus.
    */
  def mediaWithinHorizonFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val aug = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 250 === 3)
        .select((col("doc_id") +
          graft.operators.DedupAttribution.ExactProbeOffset).as("doc_id"),
          col("text")))
    val horizon = spanHorizon(aug)
    ReplayHarness.emissionsFromFiles(
      spark, arrivalsFrame(aug), chunks, statePartitions = 4,
      prefix = "mm_dedup_file", outputMode = "append",
      col("ts"), col("doc_id"))(
      deduppedBy(_, horizon, "media_md5", md5(encode(col("text"), "UTF-8"))))
      .select(col("media_md5")).orderBy(col("media_md5"))
  }

  /** The canonical form of the normalized dedup: case-fold, scrub
    * non-alphanumerics, collapse runs — TextAnalysis.normalize's hash
    * contract expressed over `text`.
    */
  private val canonicalText: Column = {
    val az = "abcdefghijklmnopqrstuvwxyz"
    trim(regexp_replace(regexp_replace(
      translate(col("text"), az.toUpperCase, az), "[^a-z0-9 ]", " "), " +", " "))
  }

  /** Deterministic synthetic arrival frame, built EXECUTOR-SIDE: one
    * second per doc_id from a fixed epoch, as a DataFrame for
    * [[FileStage]]. Shared with [[StreamingWinnow]].
    */
  private[streaming] def arrivalsFrame(docs: DataFrame): DataFrame =
    docs.select(
      expr("timestampadd(SECOND, cast(doc_id AS bigint), " +
        "timestamp'2024-01-01 00:00:00')").as("ts"),
      col("doc_id").cast("long").as("doc_id"), col("text"))

  /** Horizon covering the whole replay span (arrival times are doc_id
    * seconds after base, so max doc_id + slack covers every arrival) — a
    * fixed horizon would silently start evicting state on a larger corpus.
    * The one driver-visible scalar of the replay. Shared with
    * [[StreamingWinnow]].
    */
  private[streaming] def spanHorizon(docs: DataFrame): String = {
    val maxId = Option(docs.agg(max(col("doc_id").cast("long"))).head()
      .getAs[java.lang.Long](0)).map(_.toLong).getOrElse(0L) // empty corpus
    s"${maxId + 3600} seconds"
  }
}
