package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

final case class StreamDoc(ts: Timestamp, doc_id: Long, text: String)

/** Streaming exact dedup: duplicates inside the watermark horizon are
  * dropped at arrival; state is evicted past the horizon (a re-arrival
  * after eviction flows again — the documented horizon-scoped guarantee).
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def at(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("in-horizon duplicates drop; evicted keys admit re-arrivals") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = StreamingDedup.dedupped(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      // batch 1: the same text twice in one batch -> one survivor
      input.addData(StreamDoc(at("10:00"), 1L, "same text"),
        StreamDoc(at("10:01"), 2L, "same text"),
        StreamDoc(at("10:02"), 3L, "other text"))
      q.processAllAvailable()
      // batch 2: another duplicate within the horizon -> dropped
      input.addData(StreamDoc(at("10:05"), 4L, "same text"))
      q.processAllAvailable()
      val mid = spark.table("stream_dedup").select($"doc_id").as[Long].collect().toSet
      assert(mid == Set(1L, 3L)) // 2 and 4 deduplicated against 1

      // batch 3: jump event time far past the horizon -> state evicts
      input.addData(StreamDoc(at("11:00"), 5L, "unrelated"))
      q.processAllAvailable()
      // batch 4: the old text re-arrives AFTER eviction -> flows again
      input.addData(StreamDoc(at("11:30"), 6L, "same text"))
      q.processAllAvailable()
      val all = spark.table("stream_dedup").select($"doc_id").as[Long].collect().toSet
      assert(all == Set(1L, 3L, 5L, 6L))
    } finally q.stop()
  }

  test("driver query: survivor key set equals the batch exact-dedup key set") {
    val streamed = StreamingDedup.exactWithinHorizonFromFiles(spark, sf0001)
      .as[String].collect().toSeq
    val batch = graft.operators.Dedup
      .exact(graft.sources.Tables.documents(spark, sf0001))
      .select($"content_hash").as[String].collect().toSeq.sorted
    assert(streamed == batch) // same keys, already hash-ordered
  }

  test("canonical variants drop at ingest (SHOUTED repost never survives)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = StreamingDedup.deduppedBy(input.toDF(), "10 minutes", "norm_hash",
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.trim(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.regexp_replace(
              org.apache.spark.sql.functions.translate($"text",
                "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"),
              "[^a-z0-9 ]", " "), " +", " ")).cast("binary")))
      .writeStream.format("memory").queryName("stream_norm_dedup")
      .outputMode("append").start()
    try {
      input.addData(StreamDoc(at("10:00"), 1L, "hello world"))
      q.processAllAvailable()
      // a shouted, re-punctuated repost inside the horizon is dropped
      input.addData(StreamDoc(at("10:02"), 2L, "HELLO,   WORLD!!!"),
        StreamDoc(at("10:03"), 3L, "genuinely new"))
      q.processAllAvailable()
      val ids = spark.table("stream_norm_dedup")
        .select($"doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L))
    } finally q.stop()
  }

  test("driver query: survivor key set equals the batch canonical key set") {
    val streamed = StreamingDedup.normalizedWithinHorizonFromFiles(spark, sf0001)
      .as[String].collect().toSeq
    val batch = graft.operators.Dedup
      .normalizedDups(graft.operators.Dedup.normProbeAugmented(
        graft.sources.Tables.documents(spark, sf0001)))
      .select($"norm_hash").as[String].collect().toSeq.sorted
    assert(streamed == batch)
    // and the drop was non-vacuous: fewer survivors than arrivals
    val arrivalsN = graft.operators.Dedup.normProbeAugmented(
      graft.sources.Tables.documents(spark, sf0001)).count()
    assert(streamed.size < arrivalsN)
  }
}
