package graft.streaming

import scala.concurrent.TimeoutException
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Bm25
import graft.sources.Tables

/** The hybrid serve-on-ingest twin must fuse exactly the batch serve's
  * lists at any chunking: the lexical leg's fold is monotone (the
  * StreamingBm25 certificate), the vector leg is STATELESS (each arriving
  * query emits its full scored block product in its own batch — batch
  * boundaries partition queries, never a query's candidates), and the
  * readback ranks + RRF fusion are the batch spellings verbatim.
  */
class StreamingHybridSpec extends SparkSpec {

  test("streamed hybrid rrf equals the batch serve at every chunking") {
    val batch = Bm25.hybridRrf(
      Tables.documents(spark, sf0001), Tables.embeddings(spark, sf0001))
      .orderBy(col("query_id"), col("rank"))
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    Seq(1, 3).foreach { chunks =>
      val streamed = StreamingHybrid.hybridFromFiles(spark, sf0001, chunks)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }

  test("a failed or timed-out leg stops both legs' streams before rethrowing") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // a leg whose stream never finishes on its own: it returns only once
    // something stops its query
    def wedged(): Int = {
      val q = MemoryStream[Int].toDF().writeStream.format("noop").start()
      q.awaitTermination()
      0
    }
    val failed = intercept[IllegalStateException] {
      StreamingHybrid.bothLegs(spark, 1.minute)(
        { // fail only once the other leg's stream is running
          while (spark.streams.active.isEmpty) Thread.sleep(10)
          throw new IllegalStateException("leg failed")
        },
        wedged())
    }
    assert(failed.getMessage == "leg failed")
    assert(spark.streams.active.isEmpty)

    intercept[TimeoutException] {
      StreamingHybrid.bothLegs(spark, 5.seconds)(wedged(), wedged())
    }
    assert(spark.streams.active.isEmpty)
  }
}
