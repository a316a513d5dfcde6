package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Stream-stream join certificate: the watermarked two-stream join equals
  * the batch join exactly, independent of micro-batch slicing.
  */
class StreamStreamJoinSpec extends SparkSpec {

  private def batchJoin() = {
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_event"), col("user_id"),
        col("ts").as("signup_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    s.join(p, col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") +
          expr(s"INTERVAL ${StreamStreamJoin.WindowHours} HOURS"))
      .select(col("user_id"), col("signup_event"), col("purchase_event"),
        col("signup_ts").cast("timestamp_ntz").as("signup_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
      .orderBy(col("user_id"), col("signup_event"), col("purchase_event"))
      .collect().toSeq
  }

  test("streaming join equals the batch join and is non-vacuous (any chunking)") {
    val batch = batchJoin()
    assert(batch.nonEmpty) // 88 pairs at sf0.001 — the certificate has teeth
    Seq(2, 4).foreach { chunks =>
      val streamed = StreamStreamJoin.signupPurchases(spark, sf0001, chunks)
        .collect().toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }

  test("left-outer streaming join equals the batch left join, including " +
      "null-extended rows that only emit at watermark eviction") {
    import spark.implicits._
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_event"), col("user_id"),
        col("ts").as("signup_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    val batch = s.join(p, col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") +
          expr(s"INTERVAL ${StreamStreamJoin.WindowHours} HOURS"), "left_outer")
      .select(col("user_id"), col("signup_event"), col("purchase_event"),
        col("signup_ts").cast("timestamp_ntz").as("signup_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
      .orderBy(col("user_id"), col("signup_event"),
        coalesce(col("purchase_event"), lit(-1L)))
      .collect().toSeq
    // the outer half is non-vacuous: some signups have no purchase in-window
    assert(batch.exists(_.isNullAt(2)), "no unmatched signups; widen corpus")
    val streamed = StreamStreamJoin.signupPurchasesOuter(spark, sf0001, 3)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("join state survives a checkpoint restart: no duplicates, no loss") {
    import java.io.File
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val work = Files.createTempDirectory("ssj_restart").toFile
    try {
      val staged = Tables.events(spark, sf0001)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"))
      val stagingDir = new File(work, "staging").getAbsolutePath
      staged.repartitionByRange(3, col("ts"), col("event_id"))
        .sortWithinPartitions(col("ts"), col("event_id"))
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
        def source() = spark.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.getAbsolutePath)
        val signups = source().filter(col("event_type") === "signup")
          .select(col("event_id").as("signup_event"), col("user_id"),
            col("ts").as("signup_ts"))
          .withWatermark("signup_ts", "30 minutes")
        val purchases = source().filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_event"),
            col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "30 minutes")
        val q = ReplayHarness.runWithStatePartitions(spark, 8) {
          signups.join(purchases,
              col("user_id") === col("p_user_id") &&
                col("purchase_ts") >= col("signup_ts") &&
                col("purchase_ts") <= col("signup_ts") +
                  expr(s"INTERVAL ${StreamStreamJoin.WindowHours} HOURS"))
            .writeStream.format("parquet").option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
        }
        try q.awaitTermination() finally q.stop()
      }
      // run 1 sees the first two range files; the "crash" happens before
      // the third arrives
      arrive(0); arrive(1)
      run()
      val afterRun1 = spark.read.parquet(outDir).count()
      // restart with the tail file: buffered signups recovered from the
      // checkpointed join state must match purchases arriving only now
      arrive(2)
      run()
      val got = spark.read.parquet(outDir)
        .select($"signup_event", $"purchase_event").as[(Long, Long)]
        .collect().toSeq
      val batch = batchJoin()
        .map(r => (r.getAs[Long]("signup_event"), r.getAs[Long]("purchase_event")))
      assert(got.sorted == batch.sorted)
      assert(got.size == got.distinct.size, "duplicated emissions after restart")
      assert(afterRun1 < got.size, "restart added nothing")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }

  test("a match across a micro-batch boundary is found (buffered state), " +
      "and a pair outside the window is not") {
    import spark.implicits._
    // hand-staged log: file 0 carries the signup, file 1 (a LATER
    // micro-batch) the matching purchase 2 h after it — the pair can only
    // be produced if the signup was buffered in join state across the
    // batch boundary. A third event sits 30 h out: beyond the window.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600_000L)
    val work = java.nio.file.Files.createTempDirectory("graft_ssj_spec").toFile
    try {
      val inDir = new java.io.File(work, "in").getAbsolutePath
      val schema = Seq((1L, 7L, "signup", t0)).toDF(
        "event_id", "user_id", "event_type", "ts").schema
      Seq(Seq((1L, 7L, "signup", t0)),
          Seq((2L, 7L, "purchase", at(2)), (3L, 7L, "purchase", at(30))))
        .zipWithIndex.foreach { case (rows, i) =>
          val before = Option(new java.io.File(inDir).listFiles()).toSeq.flatten
            .filter(_.getName.startsWith("part-")).map(_.getName).toSet
          rows.toDF("event_id", "user_id", "event_type", "ts")
            .coalesce(1).write.mode("append").parquet(inDir)
          new java.io.File(inDir).listFiles()
            .filter(_.getName.startsWith("part-"))
            .filterNot(f => before.contains(f.getName))
            .foreach(_.setLastModified(1_000_000_000_000L + i * 60_000L))
        }
      val got = StreamStreamJoin.joinStaged(spark,
          ReplayHarness.Staged(inDir, schema, flushed = false), "30 minutes")
        .select($"signup_event", $"purchase_event")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L))) // cross-batch pair found; 30h pair excluded
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }
}
