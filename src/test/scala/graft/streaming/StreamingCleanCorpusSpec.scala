package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CleanCorpus
import graft.sources.Tables

/** The streamed clean pipeline's dedup ledger must equal the batch
  * pipeline's grouping, at any chunking — the incremental-equals-batch
  * property for the flagship composite.
  */
class StreamingCleanCorpusSpec extends SparkSpec {
  import spark.implicits._

  test("the streamed ledger equals the batch pipeline's dedup grouping at every chunking") {
    val dir = sf0001
    val batch = CleanCorpus.gatedDocs(Tables.documents(spark, dir))
      .groupBy($"content_hash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"content_hash")
      .as[(String, Long, Long)].collect().toSeq
    assert(batch.nonEmpty)
    // keep_id/n_copies must also agree with the full batch pipeline's rows
    val keptBatch = CleanCorpus.clean(Tables.documents(spark, dir))
      .select($"doc_id", $"n_copies").as[(Long, Long)].collect().toMap
    assert(batch.forall { case (_, keep, n) => keptBatch(keep) == n })
    Seq(1, 4).foreach { chunks =>
      val streamed = StreamingCleanCorpus.cleanLedgerFromFiles(spark, dir, chunks)
        .as[(String, Long, Long)].collect().toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }
}
