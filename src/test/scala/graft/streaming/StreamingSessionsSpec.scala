package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Relational

/** One event of the hand-fed sessionizer fixtures. */
final case class EventArrival(ts: Timestamp, user_id: Long)

/** The streaming sessionizer's driver-query contract: incremental execution
  * over micro-batches produces EXACTLY the batch session_window result
  * (SessionWindowStreamingSpec covers the merging/watermark semantics at
  * unit scale; this pins the end-to-end replay path the driver runs).
  */
class StreamingSessionsSpec extends SparkSpec {
  import spark.implicits._

  test("replayed streaming sessions equal the batch session_window result") {
    val streamed = FileReplaySessions.userSessions(spark, sf0001, chunks = 4)
      .collect().map(_.toSeq)
    val batch = Relational.sessionWindows(spark, sf0001)
      .collect().map(_.toSeq)
    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("sessions finalize incrementally, not in one final flush") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventArrival]
    val q = StreamingSessions.sessions(input.toDF(), "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sess_incr")
      .outputMode("append").start()
    try {
      def at(min: Int) = new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
      input.addData(Seq(EventArrival(at(0), 1L), EventArrival(at(5), 1L)))
      q.processAllAvailable()
      // next chunk's event time moves the watermark past session 1's end
      // (00:35) only after the FOLLOWING batch runs with it
      input.addData(Seq(EventArrival(at(50), 2L)))
      q.processAllAvailable()
      input.addData(Seq(EventArrival(at(55), 2L)))
      q.processAllAvailable()
      val emitted = spark.table("sess_incr").select(col("user_id")).as[Long].collect()
      assert(emitted.contains(1L)) // finalized while user 2's session is still open
      assert(!emitted.contains(2L))
    } finally {
      q.stop()
      try spark.catalog.dropTempView("sess_incr") catch { case _: Exception => () }
    }
  }
}
