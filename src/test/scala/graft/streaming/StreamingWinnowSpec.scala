package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Passage-novelty semantics at unit scale: first-seen fingerprints pass,
  * a later document made ENTIRELY of known passages emits nothing, and a
  * document with one novel passage emits exactly its new fingerprints.
  */
class StreamingWinnowSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)

  test("known-passage documents emit nothing; novel passages emit their new fps") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = StreamingWinnow.novelPassages(input.toDF(), horizon = "1 hour")
      .writeStream.format("memory").queryName("winnow_novel")
      .outputMode("append").start()
    try {
      val passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
      input.addData(Seq(StreamDoc(ts(0), 1L, passage)))
      q.processAllAvailable()
      val afterFirst = spark.table("winnow_novel").count()
      assert(afterFirst > 0) // the first doc's passages are all novel

      // an exact re-arrival (shifted position would match too) adds NOTHING
      input.addData(Seq(StreamDoc(ts(10), 2L, s"pre1 pre2 pre3 $passage")))
      q.processAllAvailable()
      val afterDup = spark.table("winnow_novel").count()
      // the prefix itself is under k+w-1 words beyond the passage overlap,
      // so only prefix-boundary grams can add fingerprints; the passage's
      // own fingerprints must NOT re-emit
      val dupFps = spark.table("winnow_novel").select($"fp").as[Long].collect()
      assert(dupFps.distinct.length == dupFps.length, "a fingerprint re-emitted")

      // a genuinely novel passage emits new fingerprints
      input.addData(Seq(StreamDoc(ts(20), 3L,
        "kilo lima mike november oscar papa quebec romeo sierra tango")))
      q.processAllAvailable()
      assert(spark.table("winnow_novel").count() > afterDup)
    } finally {
      q.stop()
      try spark.catalog.dropTempView("winnow_novel") catch { case _: Exception => () }
    }
  }
}
