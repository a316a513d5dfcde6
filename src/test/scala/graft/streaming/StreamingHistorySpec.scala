package graft.streaming

import graft.SparkSpec
import graft.operators.MqttQueries

/** The driver-checkable streaming query against its batch twin on the real
  * sf0.001 replay frame — the same equivalence the driver's DuckDB oracle
  * asserts at sf0.01 (both share [[MqttQueries.historySql]]), here at 5
  * file micro-batches where the driver query runs 3.
  */
class StreamingHistorySpec extends SparkSpec {

  test("streaming history over sf0.001 equals the batch lag-window history") {
    val streamed = FileReplayHistory.history(spark, sf0001, chunks = 5)
    val batch = MqttQueries.history(spark, sf0001)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val s = streamed.collect().map(_.toSeq)
    val b = batch.collect().map(_.toSeq)
    assert(s.length == b.length && s.sameElements(b))
  }
}
