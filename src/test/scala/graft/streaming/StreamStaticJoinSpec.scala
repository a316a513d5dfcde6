package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Stream-static enrichment: batch parity at any chunking, and the melt
  * round-trip for the unpivot operator.
  */
class StreamStaticJoinSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static join equals the batch join+aggregate (any chunking)") {
    val batch = Tables.events(spark, sf0001)
      .select(col("user_id"),
        floor(col("value") * 100).cast("long").as("value_cents"))
      .join(Tables.customer(spark, sf0001)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("value_cents"))
      .orderBy(col("c_mktsegment"))
      .collect().toSeq
    assert(batch.nonEmpty)
    Seq(2, 5).foreach { chunks =>
      val streamed = StreamStaticJoin.segmentActivityFromFiles(spark, sf0001, chunks)
        .collect().toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }

  test("unpivot is the exact inverse of pivot (dense long form)") {
    import graft.operators.Relational
    val long = Relational.unpivotEvents(spark, sf0001)
      .as[(Int, String, Long)].collect().toSeq
    // dense: every cohort x type cell present exactly once
    val cohorts = long.map(_._1).distinct.size
    assert(long.size == cohorts * Relational.PivotEventTypes.size)
    // values match the sparse groupBy, zero-filled
    val sparse = Tables.events(spark, sf0001)
      .groupBy((col("user_id") % 10).cast("int").as("cohort"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(Int, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    long.foreach { case (c, t, n) =>
      assert(n == sparse.getOrElse((c, t), 0L), s"cell ($c, $t)")
    }
  }
}
