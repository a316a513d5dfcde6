package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.HeavyHitters

/** Bounded Misra-Gries counters on transformWithState + MapState: the
  * point-update write-back (including capacity-decrement evictions) must
  * reproduce the reference fold exactly across micro-batches, and the
  * file-replay twin must equal the exact batch profile (the driver
  * re-certifies the same equality against the DuckDB oracle at sf0.01).
  */
class TwsHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("MapState write-back reproduces the mgFold counters across batches, " +
      "including decrement-all evictions at capacity") {
    implicit val ctx = spark.sqlContext
    val name = "tws_mg_stream"
    // capacity 2 forces the decrement/removeKey path; one group and one
    // state partition make the cross-batch fold order deterministic, so the
    // streamed counters must equal a direct fold of the concatenated input
    val batch1 = Seq(1L, 1L, 2L, 3L, 1L)
    val batch2 = Seq(4L, 4L, 1L, 5L, 4L)
    TwsCdc.withRocksDb(spark) {
      val input = MemoryStream[Long]
      val q = ReplayHarness.runWithStatePartitions(spark, 1) {
        TwsHeavyHitters.summaryStream(input.toDS(), groups = 1, capacity = 2)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
      }
      try {
        input.addData(batch1); q.processAllAvailable()
        input.addData(batch2); q.processAllAvailable()
        val expected = mutable.LongMap.empty[Long]
        val n = HeavyHitters.mgFold(expected, 2, (batch1 ++ batch2).iterator)
        val last = spark.table(name).as[MgGroupEmit].collect()
          .filter(_.seen == n)
        assert(last.nonEmpty, "no emission carries the final seen stamp")
        val streamed = last.collect { case MgGroupEmit(_, Some(k), c, _) => k -> c }.toMap
        assert(streamed == expected.toMap, s"streamed=$streamed expected=$expected")
        assert(last.exists(e => e.k.isEmpty && e.cnt == n), "missing sentinel")
      } finally {
        q.stop()
        try spark.catalog.dropTempView(name) catch { case _: Exception => () }
      }
    }
  }

  test("MapState file twin equals the exact batch heavy-hitter profile") {
    val got = rows(TwsHeavyHitters.hotCustomersFromFiles(spark, sf0001))
    assert(got.nonEmpty)
    assert(got == rows(HeavyHitters.hotCustomers(spark, sf0001)))
  }

  test("MapState state carries across finer file-batches (chunks=7)") {
    assert(rows(TwsHeavyHitters.hotCustomersFromFiles(spark, sf0001, chunks = 7))
      == rows(HeavyHitters.hotCustomers(spark, sf0001)))
  }
}
