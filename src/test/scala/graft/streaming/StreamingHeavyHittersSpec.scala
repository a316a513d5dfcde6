package graft.streaming

import graft.SparkSpec
import graft.operators.HeavyHitters

/** Incremental heavy hitters: the streaming twin must equal the batch
  * profile exactly, for any micro-batch split of the same rows.
  */
class StreamingHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  test("streamed counters rank identically to the batch profile at every chunking") {
    val dir = sf0001
    val batch = HeavyHitters.hotCustomers(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSeq
    Seq(1, 4).foreach { chunks =>
      val streamed = FileReplayHeavyHitters.hotCustomers(spark, dir, chunks)
        .as[(Int, Long, Long, Long)].collect().toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }
}
