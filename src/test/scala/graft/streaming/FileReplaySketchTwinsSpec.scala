package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CleanCorpus, Dedup, Sketches, Winnow}
import graft.functions.WinnowFingerprints
import graft.sources.Tables

/** The update-mode sketch twins and the append-mode key-set twins at their
  * default chunking: each file-source form must equal its batch anchor at
  * sf0.001 (the driver re-certifies the same equalities against the DuckDB
  * oracles at sf0.01). The per-operator suites pin the incremental
  * semantics at other chunkings.
  */
class FileReplaySketchTwinsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("approx-distinct file twin equals the batch sketch") {
    val got = rows(StreamingSketch.approxDistinctUsersFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    assert(got == rows(Sketches.approxDistinctUsers(spark, sf0001)))
  }

  test("approx-distinct on transformWithState + RocksDB equals the batch " +
      "sketch (successor state API, update-mode class)") {
    val got = rows(TwsSketch.approxDistinctUsersFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    assert(got == rows(Sketches.approxDistinctUsers(spark, sf0001)))
  }

  test("approx-quantiles file twin equals the batch histogram") {
    val got = rows(StreamingQuantiles.quantilesByTypeFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    assert(got == rows(Sketches.approxQuantilesByType(spark, sf0001)))
  }

  test("HLL file twin equals the batch registers") {
    val got = rows(StreamingHll.hllDistinctUsersFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    assert(got == rows(Sketches.hllDistinctUsers(spark, sf0001)))
  }

  test("KMV file twin equals the batch sketch") {
    val got = rows(StreamingKmv.kmvDistinctUsersFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    assert(got == rows(Sketches.kmvDistinctUsers(spark, sf0001)))
  }

  test("clean-corpus ledger file twin equals the batch gated grouping") {
    val got = rows(StreamingCleanCorpus.cleanLedgerFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    val batch = CleanCorpus.gatedDocs(Tables.documents(spark, sf0001))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))
    assert(got == rows(batch))
  }

  test("exact-dedup file twin's survivor keys equal the batch distinct hashes") {
    val got = StreamingDedup.exactWithinHorizonFromFiles(spark, sf0001)
      .as[String].collect().toSeq
    assert(got.nonEmpty)
    val batch = Tables.documents(spark, sf0001)
      .select(md5(trim(col("text")).cast("binary")).as("content_hash"))
      .distinct().orderBy(col("content_hash")).as[String].collect().toSeq
    assert(got == batch)
  }

  test("normalized-dedup file twin's survivor keys equal the batch " +
      "canonical hashes over the probe-augmented corpus") {
    val got = StreamingDedup.normalizedWithinHorizonFromFiles(spark, sf0001)
      .as[String].collect().toSeq
    assert(got.nonEmpty)
    val az = "abcdefghijklmnopqrstuvwxyz"
    val canonical = trim(regexp_replace(regexp_replace(
      translate(col("text"), az.toUpperCase, az), "[^a-z0-9 ]", " "), " +", " "))
    val batch = Dedup.normProbeAugmented(Tables.documents(spark, sf0001))
      .select(md5(canonical.cast("binary")).as("norm_hash"))
      .distinct().orderBy(col("norm_hash")).as[String].collect().toSeq
    assert(got == batch)
  }

  test("bounded heavy-hitters file twin equals the exact batch profile " +
      "(exact regime)") {
    val got = rows(StreamingBoundedHeavyHitters.hotCustomersFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    assert(got == rows(graft.operators.HeavyHitters.hotCustomers(spark, sf0001)))
  }

  test("stream-static join file twin equals the batch join+aggregate") {
    val got = rows(StreamStaticJoin.segmentActivityFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    val batch = Tables.events(spark, sf0001)
      .select(col("user_id"), floor(col("value") * 100).cast("long").as("value_cents"))
      .join(Tables.customer(spark, sf0001)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("value_cents"))
      .orderBy(col("c_mktsegment"))
    assert(got == rows(batch))
  }

  test("incremental bottom-k-hash group sample equals the batch sample") {
    val got = rows(StreamingGroupSample.sampleDocsPerLangFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    assert(got == rows(graft.operators.BoundedTopK.sampleDocsPerLang(spark, sf0001)))
  }

  test("winnow file twin's survivor fingerprints equal the batch distinct set") {
    val got = StreamingWinnow.firstSeenPassagesFromFiles(spark, sf0001)
      .as[Long].collect().toSeq
    assert(got.nonEmpty)
    val batch = Tables.documents(spark, sf0001)
      .select(explode(WinnowFingerprints(col("text"),
        Winnow.ShingleK, Winnow.WindowW)).as("fp"))
      .distinct().orderBy(col("fp")).as[Long].collect().toSeq
    assert(got == batch)
  }
}
