package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.{MqttPipeline, MqttQueries}

/** The file-source streaming CDC path: incremental-equals-batch with NO
  * driver-side input materialization (the ingest is a distributed
  * range-ordered parquet write consumed by the file stream source, one
  * file per micro-batch).
  */
class FileReplayHistorySpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.toSeq).toSeq

  test("file-source micro-batch replay equals the batch lag-window history") {
    val batch = rows(MqttQueries.history(spark, sf0001))
    assert(batch.nonEmpty)
    val streamed = rows(FileReplayHistory.history(spark, sf0001))
    assert(streamed == batch)
  }

  test("state carries across many file-batches (finer chunking, same result)") {
    val batch = rows(MqttQueries.history(spark, sf0001))
    val streamed = rows(FileReplayHistory.history(spark, sf0001, chunks = 7))
    assert(streamed == batch)
  }

  test("file-source restart resumes from the checkpoint: no duplicates, no loss") {
    import spark.implicits._
    val work = Files.createTempDirectory("file_replay_restart").toFile
    try {
      val m = MqttQueries.replayMessages(spark, sf0001)
      val staged = MqttMsg.staged(m)
      val stagingDir = new File(work, "staging").getAbsolutePath
      staged.repartitionByRange(3, col("ts"), col("msg_id"))
        .sortWithinPartitions(col("ts"), col("msg_id"))
        .write.mode("overwrite").parquet(stagingDir)
      val parts = new File(stagingDir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      assert(parts.length == 3)
      val inDir = new File(work, "in"); inDir.mkdirs()
      val outDir = new File(work, "out").getAbsolutePath
      val ckpt = new File(work, "ckpt").getAbsolutePath
      def arrive(i: Int): Unit = {
        val dst = new File(inDir, parts(i).getName)
        Files.copy(parts(i).toPath, dst.toPath)
        dst.setLastModified(1_000_000_000_000L + i * 60_000L)
      }
      def run(): Unit = {
        val q = ReplayHarness.runWithStatePartitions(spark, 8) {
          StatefulCdc.changes(
            spark.readStream.schema(staged.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(inDir.getAbsolutePath).as[MqttMsg])
            .writeStream.format("parquet").option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
        }
        try q.awaitTermination() finally q.stop()
      }
      // run 1 sees only the first two range files; the "crash" happens
      // before the third arrives
      arrive(0); arrive(1)
      run()
      val afterRun1 = spark.read.parquet(outDir).count()
      // restart with the tail file present: the checkpoint must resume the
      // per-topic CDC state (suppression across the restart boundary) and
      // never re-emit the first two files' events
      arrive(2)
      run()
      val events = spark.read.parquet(outDir)
      val gotIds = events.select($"msg_id").as[Long].collect().toSet
      val batchIds = MqttPipeline.historyKept(m)
        .select($"msg_id").as[Long].collect().toSet
      assert(gotIds == batchIds)
      assert(events.count() == gotIds.size, "duplicated emissions after restart")
      assert(afterRun1 < gotIds.size, "restart added nothing")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }
}
