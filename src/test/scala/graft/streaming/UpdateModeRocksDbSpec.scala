package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.{BoundedTopK, HeavyHitters, Similarity, Sketches}

/** Provider-swap certification for the UPDATE-MODE aggregation class on the
  * RocksDB state store — completing the matrix the CDC path (r11,
  * `mqtt_history_streaming_tws`) and the session path (r13,
  * FileReplayTwinsSpec) already have. Serialized sketch/sample buffers are
  * exactly the state RocksDB exists for at 100 TB (off-heap, larger than
  * executor memory); each test swaps ONLY the provider under one
  * representative of each state SHAPE and asserts the same batch equality
  * the default-provider twins certify:
  *
  *  - linear-counting sketch: `mapGroupsWithState` binary (byte-array) state
  *  - KMV: a declarative UDAF aggregation buffer inside a streaming groupBy
  *  - bounded Misra-Gries: `flatMapGroupsWithState` case-class state
  *  - group sample: the serialized O(k) TopKAgg buffer (the r13 flagship)
  *
  * The conf is restored after each call; the stream captures it at start()
  * (the clone-at-start contract, ReplayHarness.runWithStatePartitions).
  */
class UpdateModeRocksDbSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("linear-counting sketch file twin on RocksDB equals the batch sketch") {
    val batch = rows(Sketches.approxDistinctUsers(spark, sf0001))
    assert(batch.nonEmpty)
    TwsCdc.withRocksDb(spark) {
      assert(rows(StreamingSketch.approxDistinctUsersFromFiles(spark, sf0001))
        == batch)
    }
  }

  test("KMV file twin (UDAF aggregation buffer) on RocksDB equals the " +
      "batch sketch") {
    val batch = rows(Sketches.kmvDistinctUsers(spark, sf0001))
    assert(batch.nonEmpty)
    TwsCdc.withRocksDb(spark) {
      assert(rows(StreamingKmv.kmvDistinctUsersFromFiles(spark, sf0001))
        == batch)
    }
  }

  test("bounded Misra-Gries file twin on RocksDB equals the exact batch " +
      "profile") {
    val batch = rows(HeavyHitters.hotCustomers(spark, sf0001))
    assert(batch.nonEmpty)
    TwsCdc.withRocksDb(spark) {
      assert(rows(StreamingBoundedHeavyHitters.hotCustomersFromFiles(spark, sf0001))
        == batch)
    }
  }

  test("bottom-k-hash group-sample file twin (TopKAgg buffer) on RocksDB " +
      "equals the batch sample") {
    val batch = rows(BoundedTopK.sampleDocsPerLang(spark, sf0001))
    assert(batch.nonEmpty)
    TwsCdc.withRocksDb(spark) {
      assert(rows(StreamingGroupSample.sampleDocsPerLangFromFiles(spark, sf0001))
        == batch)
    }
  }
  test("the streaming Lloyd grid (built-in agg, decomposed signed sums) on " +
      "RocksDB equals the batch k-means step") {
    import org.apache.spark.sql.functions.col
    val batch = rows(Similarity.kmeansStep(
      graft.sources.Tables.embeddings(spark, sf0001))
      .orderBy(col("cid"), col("pos")))
    assert(batch.nonEmpty)
    TwsCdc.withRocksDb(spark) {
      assert(rows(StreamingKmeans.lloydStepFromFiles(spark, sf0001)) == batch)
    }
  }
}
