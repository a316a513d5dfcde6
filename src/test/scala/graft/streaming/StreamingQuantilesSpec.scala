package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Sketches

/** One pre-binned observation of the hand-fed restart fixture. */
final case class BinHit(event_type: String, bin: Long)

/** Incremental histogram quantiles: the streaming twin must equal the batch
  * sketch exactly, for any micro-batch split of the same rows — and the
  * counter state must survive a checkpoint restart (the ST1 delivery
  * guarantee for the update-mode aggregation twins).
  */
class StreamingQuantilesSpec extends SparkSpec {
  import spark.implicits._

  test("streamed histogram quantiles equal the batch sketch at every chunking") {
    val dir = sf0001
    val batch = Sketches.approxQuantilesByType(spark, dir)
      .orderBy($"event_type")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    Seq(1, 3, 7).foreach { chunks =>
      val streamed = StreamingQuantiles.quantilesByTypeFromFiles(spark, dir, chunks)
        .as[(String, Long, Double, Double, Double)].collect().toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }

  test("checkpoint restart resumes the counters: post-restart emissions carry full totals") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("quant_ckpt").toFile.getAbsolutePath
    val input = MemoryStream[BinHit]
    // foreachBatch append with the batch id stamped — the recovery-capable
    // sink shape (a production deployment would use the keyed UpsertSink)
    def start() = input.toDS()
      .groupBy($"event_type", $"bin").count()
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$dir/out")
      }
      .start()

    val q1 = start()
    input.addData(Seq(BinHit("a", 1L), BinHit("a", 1L), BinHit("b", 2L)))
    q1.processAllAvailable()
    q1.stop() // graceful: batch committed to the checkpoint before returning
    val restartBatch = spark.read.parquet(s"$dir/out")
      .agg(max($"batch_id")).as[Long].collect().head + 1

    input.addData(Seq(BinHit("a", 1L), BinHit("c", 3L)))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // update-mode counts are cumulative FROM STATE: the post-restart
    // emission for (a,1) must be 3 — its pre-restart 2 restored from the
    // checkpoint plus the new hit — not a recount from 1.
    val post = spark.read.parquet(s"$dir/out")
      .filter($"batch_id" >= restartBatch)
      .as[(String, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(post(("a", 1L)) == 3L, post.toString)
    assert(post(("c", 3L)) == 1L)
    assert(!post.contains(("b", 2L))) // untouched key is not re-emitted
    // final histogram = per-key max over ALL emissions (cumulative counts)
    val all = spark.read.parquet(s"$dir/out")
      .groupBy($"event_type", $"bin").agg(max($"count").as("n"))
      .as[(String, Long, Long)].collect().toSet
    assert(all == Set(("a", 1L, 3L), ("b", 2L, 1L), ("c", 3L, 1L)))
  }
}
