package graft.streaming

import graft.SparkSpec
import graft.operators.Sketches

/** The incremental CMS grid must converge to the batch sketch's estimates
  * exactly, at any micro-batch chunking (increments commute).
  */
class StreamingCmsSpec extends SparkSpec {
  import spark.implicits._

  test("streamed CMS grid estimates equal the batch sketch at every chunking") {
    val dir = sf0001
    val batch = Sketches.cmsUserTypeCounts(spark, dir)
      .collect().map(_.toSeq).toSeq
    Seq(1, 3).foreach { chunks =>
      val streamed = StreamingCms.cmsUserTypeCountsFromFiles(spark, dir, chunks)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }
}
