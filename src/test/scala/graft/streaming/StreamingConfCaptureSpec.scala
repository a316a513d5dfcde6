package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** The streaming drivers size their stateful shuffle to the keyspace by
  * setting `spark.sql.shuffle.partitions` around `start()` and restoring the
  * session default immediately after (ReplayHarness.runWithStatePartitions,
  * under every file-replay twin). That pattern relies on one Spark
  * contract: the query clones the session AT START, so the width the state
  * store runs with is the conf at `start()` — the restore cannot race
  * first-batch planning, which happens later on the clone. This spec pins
  * that capture order against Spark upgrades.
  */
class StreamingConfCaptureSpec extends SparkSpec {
  import spark.implicits._

  test("state-store width freezes from the conf at start(), not first batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[BucketHit]
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      StreamingSketch.counts(input.toDS())
        .writeStream.format("memory").queryName("conf_capture")
        .outputMode("update").start()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    try {
      // the first batch is planned AFTER the session conf was restored; the
      // state operator must still run at the width set around start()
      input.addData(BucketHit("a", 1), BucketHit("b", 2))
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.nonEmpty)
      assert(ops.head.numShufflePartitions == 2L,
        s"state ran at ${ops.head.numShufflePartitions} partitions — the " +
          "conf-around-start sizing pattern did not capture")
    } finally {
      q.stop()
      try spark.catalog.dropTempView("conf_capture") catch { case _: Exception => () }
    }
  }
}
