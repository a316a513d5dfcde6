package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.{BoundedTopK, HeavyHitters, Similarity, Sketches}
import graft.sources.Tables

/** Checkpoint-RESTART certification for the UPDATE-MODE aggregation class —
  * the third and last class in the streaming certificate matrix (CDC ✓
  * FileReplayHistorySpec, merging-window ✓ FileReplayTwinsSpec): the
  * serialized aggregation-state buffers (linear-counting bitmask, bounded
  * Misra-Gries counters, bottom-k-hash sample buffer) must survive a crash
  * between micro-batches and resume EXACTLY — the recovery semantics a real
  * 100 TB ingest needs (reference recovery hook: the reconnect-and-resume
  * contract at /root/reference/mqtt2sql.py:523-566).
  *
  * Harness: the memory sink is not restart-safe, so emissions go through a
  * `foreachBatch` parquet APPEND stamped with the batch id — the
  * restart-safe readback, the same move `FileReplayHistorySpec` makes with
  * the file sink. Each query's emissions are MONOTONE per group, so the
  * final answer is a fold over emissions and duplicate re-emissions could
  * never corrupt it (at-least-once + monotone fold = idempotent).
  *
  * Unlike the oracle-facing twins (which range-stage on the GROUP key for
  * deterministic chunking), these stagings range on a key UNCORRELATED with
  * the group (bucket / orderkey / doc id), so every group's state is built
  * up across ALL files — which is what makes the state-carry assertions
  * non-vacuous: after the crash, batch 2's cumulative emission for a group
  * can only equal the batch oracle if the pre-crash state was restored (a
  * fresh state would emit file-3-only values).
  */
class FileReplayUpdateRestartSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** Stage `staged` as 3 range-ordered files, deliver the first two, run
    * `agg` through foreachBatch-parquet with a checkpoint, "crash" (clean
    * stop at AvailableNow exhaustion), deliver the third, resume from the
    * same checkpoint, and return the emission log (with `batch_id`).
    */
  private def crashAndResume(staged: DataFrame, orderCol: String,
      outputMode: String, prefix: String)(
      agg: DataFrame => DataFrame): DataFrame = {
    val work = Files.createTempDirectory(prefix).toFile
    try {
      val stagingDir = new File(work, "staging").getAbsolutePath
      FileStage.stage(staged, stagingDir, 3, col(orderCol))
      val parts = new File(stagingDir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      assert(parts.length == 3)
      val inDir = new File(work, "in"); inDir.mkdirs()
      val outDir = new File(work, "out").getAbsolutePath
      val ckpt = new File(work, "ckpt").getAbsolutePath
      def arrive(i: Int): Unit = {
        val dst = new File(inDir, parts(i).getName)
        Files.copy(parts(i).toPath, dst.toPath)
        require(dst.setLastModified(FileStage.BaseMtime + i * 60_000L))
      }
      def emit(df: Dataset[Row], id: Long): Unit =
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir)
      def run(): Unit = {
        val q = ReplayHarness.runWithStatePartitions(spark, 8) {
          agg(spark.readStream.schema(staged.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(inDir.getAbsolutePath))
            .writeStream
            .foreachBatch(emit _)
            .option("checkpointLocation", ckpt)
            .outputMode(outputMode)
            .trigger(Trigger.AvailableNow()).start()
        }
        try q.awaitTermination() finally q.stop()
      }
      arrive(0); arrive(1)
      run()
      arrive(2)
      run()
      val log = spark.read.parquet(outDir)
      spark.createDataFrame(
        java.util.Arrays.asList(log.collect(): _*), log.schema)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }

  test("a batch that FAILS after its side effect is replayed on restart and " +
      "the monotone fold absorbs the duplicate emissions (at-least-once " +
      "idempotence, injected fault)") {
    // The clean-stop restarts above never exercise batch REPLAY: they stop
    // at AvailableNow exhaustion, so every batch is committed exactly once.
    // Here batch 1's foreachBatch writes its emissions and THEN throws, so
    // the batch fails after its side effect but before the commit log
    // records it — the restart must re-run batch 1, the emission log gets
    // two copies of its rows, and the fold's correctness under duplication
    // is exactly the at-least-once contract the spec scaladoc claims.
    import spark.implicits._
    val work = Files.createTempDirectory("sketch_fault").toFile
    try {
      val staged = StreamingSketch.bucketHits(spark, sf0001)
      val stagingDir = new File(work, "staging").getAbsolutePath
      FileStage.stage(staged, stagingDir, 3, col("bucket"))
      val inDir = new File(work, "staging") // all three files present upfront
      val outDir = new File(work, "out").getAbsolutePath
      val ckpt = new File(work, "ckpt").getAbsolutePath
      val injected = new java.util.concurrent.atomic.AtomicBoolean(true)
      def emit(df: Dataset[Row], id: Long): Unit = {
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir)
        if (id == 1L && injected.getAndSet(false))
          throw new RuntimeException("injected post-side-effect crash")
      }
      def run(): Unit = {
        val q = ReplayHarness.runWithStatePartitions(spark, 8) {
          StreamingSketch.counts(
            spark.readStream.schema(staged.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(inDir.getAbsolutePath).as[BucketHit]).toDF()
            .writeStream.foreachBatch(emit _)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(Trigger.AvailableNow()).start()
        }
        try q.awaitTermination() finally q.stop()
      }
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
      assert(failed.getMessage.contains("injected") ||
        failed.getCause != null, "the injected fault did not surface")
      run() // restart: must replay batch 1, then run batch 2
      val log = spark.read.parquet(outDir)
      // non-vacuous: batch 1's emissions really are duplicated in the log
      val b1 = log.filter(col("batch_id") === 1L)
        .groupBy(col("event_type"), col("n_buckets_hit")).count()
      assert(b1.filter(col("count") === 2L).count() > 0 &&
        b1.filter(col("count") =!= 2L).count() == 0,
        "batch 1 was not replayed exactly once more")
      // the fold is idempotent under the duplicates: same answer as batch
      val emissions = spark.createDataFrame(
        java.util.Arrays.asList(log.collect(): _*), log.schema)
      assert(rows(StreamingSketch.foldEmissions(emissions))
        == rows(Sketches.approxDistinctUsers(spark, sf0001)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }

  test("linear-counting sketch state (mapGroupsWithState bitmask) resumes " +
      "from the checkpoint: batch-2 emissions are cumulative, fold equals " +
      "the batch oracle") {
    import spark.implicits._
    // stage on the BUCKET (uncorrelated with event_type) so every group's
    // bitmask accretes across all three files
    val emissions = crashAndResume(
      StreamingSketch.bucketHits(spark, sf0001), "bucket", "update",
      "sketch_restart")(df => StreamingSketch.counts(df.as[BucketHit]).toDF())
    assert(emissions.select(max(col("batch_id"))).head().getLong(0) == 2L,
      "the resumed run did not continue the batch sequence from the checkpoint")
    val batch = rows(Sketches.approxDistinctUsers(spark, sf0001))
    assert(batch.nonEmpty)
    assert(rows(StreamingSketch.foldEmissions(emissions)) == batch)
    // state-carry: the post-restart batch's cumulative occupancy equals the
    // final value per group — a fresh (lost) state would emit file-3-only
    // occupancy, strictly below it
    val finalByGroup = emissions.groupBy(col("event_type"))
      .agg(max(col("n_buckets_hit")).as("final_hits"))
    val afterCrash = emissions.filter(col("batch_id") === 2L)
      .select(col("event_type"), col("n_buckets_hit"))
    assert(afterCrash.count() > 0, "no group saw data after the restart")
    val mismatched = afterCrash.join(finalByGroup, "event_type")
      .filter(col("n_buckets_hit") =!= col("final_hits")).count()
    assert(mismatched == 0, "post-restart emissions are not cumulative")
    // non-vacuous: the pre-crash runs had strictly partial occupancy
    val preCrash = emissions.filter(col("batch_id") <= 1L)
      .groupBy(col("event_type")).agg(max(col("n_buckets_hit")).as("h"))
    val partial = preCrash.join(finalByGroup, "event_type")
      .filter(col("h") < col("final_hits")).count()
    assert(partial > 0, "file 3 added nothing — the carry assertion is vacuous")
  }

  test("sketch restart ON the RocksDB provider: recovery loads the RocksDB " +
      "snapshot/changelog, not the HDFS-backed delta path") {
    import spark.implicits._
    val emissions = TwsCdc.withRocksDb(spark) {
      crashAndResume(
        StreamingSketch.bucketHits(spark, sf0001), "bucket", "update",
        "sketch_restart_rocks")(df => StreamingSketch.counts(df.as[BucketHit]).toDF())
    }
    assert(emissions.select(max(col("batch_id"))).head().getLong(0) == 2L)
    assert(rows(StreamingSketch.foldEmissions(emissions))
      == rows(Sketches.approxDistinctUsers(spark, sf0001)))
    // same state-carry check as the default-provider form: post-restart
    // emissions must be cumulative over the restored RocksDB state
    val finalByGroup = emissions.groupBy(col("event_type"))
      .agg(max(col("n_buckets_hit")).as("final_hits"))
    val mismatched = emissions.filter(col("batch_id") === 2L)
      .join(finalByGroup, "event_type")
      .filter(col("n_buckets_hit") =!= col("final_hits")).count()
    assert(mismatched == 0, "post-restart RocksDB emissions are not cumulative")
  }

  test("sketch restart with RocksDB CHANGELOG checkpointing: recovery " +
      "replays the incremental commit log, not a full snapshot") {
    // Changelog checkpointing is the at-scale commit mode (upload the
    // batch's delta, snapshot in the background) — restart must reconstruct
    // state by replaying the changelog onto the last snapshot. Same
    // assertions as the snapshot-mode RocksDB test: a recovery bug would
    // surface as non-cumulative post-restart emissions or a fold mismatch.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" -> TwsCdc.RocksDbProvider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true")
    val prevs = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val emissions = try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      crashAndResume(
        StreamingSketch.bucketHits(spark, sf0001), "bucket", "update",
        "sketch_restart_changelog")(df =>
        StreamingSketch.counts(df.as[BucketHit]).toDF())
    } finally prevs.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
    assert(emissions.select(max(col("batch_id"))).head().getLong(0) == 2L)
    assert(rows(StreamingSketch.foldEmissions(emissions))
      == rows(Sketches.approxDistinctUsers(spark, sf0001)))
    val finalByGroup = emissions.groupBy(col("event_type"))
      .agg(max(col("n_buckets_hit")).as("final_hits"))
    val mismatched = emissions.filter(col("batch_id") === 2L)
      .join(finalByGroup, "event_type")
      .filter(col("n_buckets_hit") =!= col("final_hits")).count()
    assert(mismatched == 0,
      "post-restart changelog-recovered emissions are not cumulative")
  }

  test("bounded Misra-Gries counters (flatMapGroupsWithState) resume from " +
      "the checkpoint: rows-seen totals span the crash, ranking equals the " +
      "exact batch profile") {
    import spark.implicits._
    val staged = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"))
    val total = staged.count()
    // stage on the orderkey (uncorrelated with custkey) so every hashed
    // group accretes counters across all three files
    val emissions = crashAndResume(staged, "o_orderkey", "append",
      "mg_restart")(df => StreamingBoundedHeavyHitters.summaryStream(
        df.select(col("o_custkey")).as[Long], groups = 8,
        capacity = 1 << 16).toDF())
    assert(emissions.select(max(col("batch_id"))).head().getLong(0) == 2L)
    val batch = rows(HeavyHitters.hotCustomers(spark, sf0001))
    assert(batch.nonEmpty)
    assert(rows(StreamingBoundedHeavyHitters.foldEmissions(emissions)) == batch)
    // state-carry: each group's final rows-seen stamp accumulates across the
    // crash boundary, so the stamps sum to the TOTAL fact-row count; a lost
    // state would restart every group's counter at its file-3 contribution
    val seenSum = emissions.groupBy(col("gid")).agg(max(col("seen")).as("s"))
      .agg(sum(col("s"))).head().getLong(0)
    assert(seenSum == total,
      s"rows-seen after restart $seenSum != $total staged rows — state lost")
    val preCrashSum = emissions.filter(col("batch_id") <= 1L)
      .groupBy(col("gid")).agg(max(col("seen")).as("s"))
      .agg(sum(col("s"))).head().getLong(0)
    assert(preCrashSum < total, "file 3 added nothing — carry check vacuous")
  }

  test("bottom-k-hash group-sample buffer (TopKAgg aggregation state) " +
      "resumes from the checkpoint: the sample is identical to the batch " +
      "sample") {
    import graft.functions.{TextFunctions => TF, TopKAgg}
    val h = TF.hash60(concat(lit(BoundedTopK.KSampleSalt),
      col("doc_id").cast("string")))
    val staged = Tables.documents(spark, sf0001)
      .select(col("lang"), col("doc_id").cast("long").as("doc_id"), h.as("h"))
    // stage on the doc id (every lang spans all three files)
    val emissions = crashAndResume(staged, "doc_id", "update",
      "gsample_restart")(
      _.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_seen"),
          TopKAgg.agg(-col("h"), col("doc_id"), BoundedTopK.SampleK).as("top")))
    assert(emissions.select(max(col("batch_id"))).head().getLong(0) == 2L)
    val batch = rows(BoundedTopK.sampleDocsPerLang(spark, sf0001))
    assert(batch.nonEmpty)
    assert(rows(StreamingGroupSample.foldEmissions(
      emissions.drop("batch_id"))) == batch)
    // state-carry: the final per-lang rows-seen equals the lang's total doc
    // count only if the pre-crash buffer was restored
    val docsPerLang = Tables.documents(spark, sf0001)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val finalSeen = emissions.groupBy(col("lang")).agg(max(col("n_seen")).as("n_seen"))
    val short = finalSeen.join(docsPerLang, "lang")
      .filter(col("n_seen") =!= col("n_docs")).count()
    assert(short == 0, "per-lang rows-seen does not span the crash boundary")
    val preCrash = emissions.filter(col("batch_id") <= 1L)
      .groupBy(col("lang")).agg(max(col("n_seen")).as("s"))
    assert(preCrash.join(docsPerLang, "lang")
      .filter(col("s") < col("n_docs")).count() > 0,
      "file 3 added nothing — carry check vacuous")
  }
  test("the Lloyd grid's monotone-decomposed signed sums resume from " +
      "checkpoint (streaming k-means state across the crash boundary)") {
    // staging ranges on vec_id — uncorrelated with the (cid, pos) grid
    // keys, so every grid cell accumulates across ALL files and the
    // post-restart fold can only equal the batch step if the pre-crash
    // positive/negative partial sums were restored
    val staged = StreamingKmeans.embRows(spark, sf0001)
    val log = crashAndResume(staged, "vec_id", "update", "kmeans_restart")(
      StreamingKmeans.gridAgg(spark, sf0001))
    assert(log.select(col("batch_id")).distinct().count() == 3)
    assert(rows(StreamingKmeans.foldGrid(log.drop("batch_id")))
      == rows(Similarity.kmeansStep(Tables.embeddings(spark, sf0001))
        .orderBy(col("cid"), col("pos"))))
  }
}
