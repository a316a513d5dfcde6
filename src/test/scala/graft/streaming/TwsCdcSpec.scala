package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.MqttQueries

/** The transformWithState (Spark 4 state API, RocksDB store) form of the
  * CDC machine: same semantics as the flatMapGroupsWithState form, proven
  * by the same assertions.
  */
class TwsCdcSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private def msg(id: Long, t: Long, topic: String, v: String) =
    MqttMsg(id, ts(t), topic, v.getBytes("UTF-8"), 0, 0)

  test("transformWithState CDC equals the batch lag-window replay") {
    implicit val ctx = spark.sqlContext
    TwsCdc.withRocksDb(spark) {
      val input = MemoryStream[MqttMsg]
      val q = TwsCdc.changes(input.toDS())
        .writeStream.format("memory").queryName("tws_cdc_eq")
        .outputMode("append").start()
      val b1 = Seq(msg(1, 10, "t", "a"), msg(2, 11, "t", "a"), msg(3, 12, "u", "q"))
      val b2 = Seq(msg(4, 13, "t", "b"), msg(5, 14, "u", "q"))
      val b3 = Seq(msg(6, 15, "t", "b"), msg(7, 16, "t", "c"), msg(8, 17, "u", "r"))
      try {
        Seq(b1, b2, b3).foreach { b => input.addData(b); q.processAllAvailable() }
        val streamed = spark.table("tws_cdc_eq").as[CdcEvent]
          .collect().map(_.msg_id).toSet
        // within-batch suppression (2, 6) and ACROSS batches through the
        // RocksDB ValueState (5)
        assert(streamed == Set(1L, 3L, 4L, 7L, 8L))
      } finally q.stop()
    }
  }

  test("state TTL bounds the topic keyspace: an expired topic's next " +
      "message re-emits (at-least-once), an unexpired one still suppresses") {
    implicit val ctx = spark.sqlContext
    TwsCdc.withRocksDb(spark) {
      val input = MemoryStream[MqttMsg]
      // ProcessingTime mode schedules micro-batches continuously for TTL
      // cleanup, so processAllAvailable can starve at the default 0 ms
      // trigger — use an explicit interval and poll the sink instead.
      // TTL horizon 6 s (was 2 s): the "unchanged payload inside the
      // horizon" leg is WALL-CLOCK sensitive — on a loaded host the batch
      // carrying msg 2 can land > 2 s after msg 1's, the state expires
      // between them, and the suppressed message re-emits (observed as a
      // flake under CPU-steal in r21). 6 s keeps the suppressed-leg margin
      // wide while the expiry sleep below stays proportionate.
      val q = TwsCdc.changesTtl(input.toDS(), java.time.Duration.ofSeconds(6))
        .writeStream.format("memory").queryName("tws_cdc_ttl")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
        .start()
      def emitted: Set[Long] = spark.table("tws_cdc_ttl").as[CdcEvent]
        .collect().map(_.msg_id).toSet
      def await(desc: String)(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 30_000_000_000L
        while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
        assert(cond, desc)
      }
      def processedRows: Long = q.recentProgress.map(_.numInputRows).sum
      try {
        input.addData(Seq(msg(1, 10, "t", "a")))
        await("first message emitted")(emitted == Set(1L))
        // within the TTL horizon (6 s; msg 2 follows msg 1 by well under
        // it): unchanged payload suppressed as always — wait until the
        // batch carrying msg 2 is PROCESSED, then assert nothing new
        input.addData(Seq(msg(2, 11, "t", "a")))
        await("second message processed")(processedRows >= 2L)
        assert(emitted == Set(1L), "unchanged payload inside the TTL horizon re-emitted")
        // let the topic's last-payload state expire, then repeat the SAME
        // payload: no state to diff against -> re-emission. This is the
        // documented trade for state O(active topics), and the assertion
        // pins it as a contract, not an accident.
        Thread.sleep(7000)
        input.addData(Seq(msg(3, 12, "t", "a")))
        await("post-expiry re-emission")(emitted == Set(1L, 3L))
      } finally q.stop()
    }
  }

  test("driver query form: file-source replay through transformWithState equals batch") {
    val batch = MqttQueries.history(spark, sf0001).collect()
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }).toSeq
    val streamed = FileReplayHistory.history(spark, sf0001, useTws = true)
      .collect()
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }).toSeq
    assert(streamed == batch && batch.nonEmpty)
  }
}
