package graft.streaming

import graft.SparkSpec
import graft.operators.{HeavyHitters, Relational}

/** The round-13 file-source twins: merging-window sessionization and the
  * update-mode heavy-hitter counters certified with NO driver-side input
  * materialization, against their batch forms (the driver re-certifies the
  * same equalities against the DuckDB oracles at sf0.01).
  */
class FileReplayTwinsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("file-source sessionization equals batch session_window, incl. " +
      "trailing sessions flushed by the sentinels") {
    val batch = rows(Relational.sessionWindows(spark, sf0001)
      .withColumn("session_start",
        org.apache.spark.sql.functions.col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end",
        org.apache.spark.sql.functions.col("session_end").cast("timestamp_ntz")))
    assert(batch.nonEmpty)
    val streamed = rows(FileReplaySessions.userSessions(spark, sf0001))
    assert(streamed == batch)
  }

  test("sessionization state carries across finer file-batches (chunks=7)") {
    val batch = rows(Relational.sessionWindows(spark, sf0001)
      .withColumn("session_start",
        org.apache.spark.sql.functions.col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end",
        org.apache.spark.sql.functions.col("session_end").cast("timestamp_ntz")))
    val streamed = rows(FileReplaySessions.userSessions(spark, sf0001, chunks = 7))
    assert(streamed == batch)
  }

  /** Every flushed replay form over an empty `events.parquet`: it has no
    * max event time to build a sentinel from, so it must stage none and
    * return an empty frame with its batch twin's columns.
    */
  private def emptyReplay(form: String)(run: String => org.apache.spark.sql.DataFrame,
      batch: String => org.apache.spark.sql.DataFrame): Unit =
    test(s"empty replay yields an empty $form frame, not a crash") {
      val work = java.nio.file.Files.createTempDirectory("replay_empty").toFile
      try {
        graft.sources.Tables.events(spark, sf0001).limit(0)
          .write.parquet(new java.io.File(work, "events.parquet").getAbsolutePath)
        val got = run(work.getAbsolutePath)
        assert(got.collect().isEmpty)
        assert(got.columns.toSeq == batch(sf0001).columns.toSeq)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
    }

  emptyReplay("session")(FileReplaySessions.userSessions(spark, _),
    Relational.sessionWindows(spark, _))
  emptyReplay("tws session")(TwsSessions.userSessionsFromFiles(spark, _),
    Relational.sessionWindows(spark, _))
  emptyReplay("windowed")(FileReplayWindowed.hourlyStats(spark, _),
    graft.operators.MqttQueries.windowedCounts(spark, _))
  /** The joins' batch twin is their oracle SQL, run by Spark over `events`. */
  private def oracle(sql: String)(dir: String) = {
    graft.sources.Tables.events(spark, dir).createOrReplaceTempView("events")
    try spark.sql(sql) finally spark.catalog.dropTempView("events")
  }

  emptyReplay("stream-stream join")(StreamStreamJoin.signupPurchases(spark, _),
    oracle(StreamStreamJoin.signupPurchasesSql))
  emptyReplay("outer stream-stream join")(
    StreamStreamJoin.signupPurchasesOuter(spark, _),
    oracle(StreamStreamJoin.signupPurchasesOuterSql))

  test("sessionization file twin on the RocksDB state store (the at-scale " +
      "provider) equals the default-provider result") {
    val batch = rows(Relational.sessionWindows(spark, sf0001)
      .withColumn("session_start",
        org.apache.spark.sql.functions.col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end",
        org.apache.spark.sql.functions.col("session_end").cast("timestamp_ntz")))
    TwsCdc.withRocksDb(spark) {
      assert(rows(FileReplaySessions.userSessions(spark, sf0001)) == batch)
    }
  }

  test("session-window file-source restart resumes merging-window state " +
      "from the checkpoint: no duplicates, no loss") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sessions_restart").toFile
    try {
      val staged = graft.sources.Tables.events(spark, sf0001)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"))
      val stagingDir = new java.io.File(work, "staging").getAbsolutePath
      FileStage.stage(staged, stagingDir, 3, col("ts"), col("event_id"))
      val parts = new java.io.File(stagingDir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      assert(parts.length == 3)
      val inDir = new java.io.File(work, "in"); inDir.mkdirs()
      val outDir = new java.io.File(work, "out").getAbsolutePath
      val ckpt = new java.io.File(work, "ckpt").getAbsolutePath
      def arrive(i: Int): Unit = {
        val dst = new java.io.File(inDir, parts(i).getName)
        java.nio.file.Files.copy(parts(i).toPath, dst.toPath)
        dst.setLastModified(FileStage.BaseMtime + i * 60_000L)
      }
      def run(): Unit = {
        val q = ReplayHarness.runWithStatePartitions(spark, 8) {
          StreamingSessions.sessions(
            spark.readStream.schema(staged.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(inDir.getAbsolutePath),
            gap = "30 minutes", watermark = "10 minutes")
            .writeStream.format("parquet").option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
        }
        try q.awaitTermination() finally q.stop()
      }
      // run 1 sees the first two range files; the "crash" happens before
      // the third arrives. The advancing watermark must already flush the
      // early sessions mid-stream (append-mode steady state, not one big
      // final flush).
      arrive(0); arrive(1)
      run()
      val afterRun1 = spark.read.parquet(outDir).count()
      assert(afterRun1 > 0, "no session flushed before the restart")
      // restart with the tail file + the two flush sentinels: the
      // checkpoint must resume the open-session state (sessions spanning
      // the crash boundary merge correctly) and never re-emit run 1's rows
      arrive(2)
      val maxTs = staged.agg(max(col("ts"))).head().getTimestamp(0)
      (0 until 2).foreach { i =>
        val t = new java.sql.Timestamp(maxTs.getTime + (24L + i) * 3600 * 1000)
        FileStage.appendSentinel(
          Seq((-1L - i, t, -1L)).toDF("event_id", "ts", "user_id"),
          inDir.getAbsolutePath, 3, i)
      }
      run()
      val out = spark.read.parquet(outDir)
        .filter(!col("user_id").eqNullSafe(-1L))
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
      val got = out.collect().map(_.toSeq).toSeq
      val batch = rows(Relational.sessionWindows(spark, sf0001)
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", col("session_end").cast("timestamp_ntz")))
      assert(got.toSet == batch.toSet)
      assert(got.size == batch.size, "duplicated emissions after restart")
      assert(afterRun1 < batch.size, "restart added nothing")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }

  test("file-source update-mode counters rank the same heavy hitters as " +
      "the batch aggregate") {
    val batch = rows(HeavyHitters.hotCustomers(spark, sf0001))
    assert(batch.nonEmpty)
    val streamed = rows(FileReplayHeavyHitters.hotCustomers(spark, sf0001))
    assert(streamed == batch)
    // order-free: a different chunking folds to the same counters
    val rechunked = rows(FileReplayHeavyHitters.hotCustomers(spark, sf0001, chunks = 5))
    assert(rechunked == batch)
  }
}
