package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.Relational

/** One finalized session read back from the memory sink. */
final case class SessionOut(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long)

/** The merging-window class on `transformWithState` (ListState + event-time
  * timers, RocksDB): unit-pins the merge fold's boundary semantics, then
  * certifies the timer-driven processor end-to-end — cross-batch merging on
  * a MemoryStream, and the file-replay twin against the batch
  * `session_window` anchor (the driver re-certifies the same equality
  * against the DuckDB oracle at sf0.01).
  */
class TwsSessionsSpec extends SparkSpec {
  import spark.implicits._

  private val gap = TwsSessions.GapUs
  private def min(m: Long) = m * 60000000L

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("merge coalesces bridged sessions; the gap boundary is exclusive") {
    // two sessions 40 min apart stay apart...
    val apart = TwsSessions.merge(
      Seq(OpenSession(0, min(10), 2L)), Seq(min(50)), gap)
    assert(apart == Seq(OpenSession(0, min(10), 2L),
      OpenSession(min(50), min(50), 1L)))
    // ...until an event bridges them to within the gap on both sides
    val bridged = TwsSessions.merge(
      Seq(OpenSession(0, min(10), 2L), OpenSession(min(50), min(50), 1L)),
      Seq(min(25)), gap)
    assert(bridged == Seq(OpenSession(0, min(50), 4L)))
    // an event at EXACTLY last+gap starts a new session (exclusive end,
    // matching session_window and the oracle's `>= INTERVAL 30 MINUTE`)
    val boundary = TwsSessions.merge(Seq(OpenSession(0, 0, 1L)), Seq(gap), gap)
    assert(boundary == Seq(OpenSession(0, 0, 1L), OpenSession(gap, gap, 1L)))
    // one tick inside merges
    val inside = TwsSessions.merge(Seq(OpenSession(0, 0, 1L)), Seq(gap - 1), gap)
    assert(inside == Seq(OpenSession(0, gap - 1, 2L)))
  }

  test("merge is insensitive to event order and to existing/new split") {
    val events = Seq(min(0), min(20), min(90), min(40), min(95))
    val expected = Seq(OpenSession(min(0), min(40), 3L),
      OpenSession(min(90), min(95), 2L))
    assert(TwsSessions.merge(Nil, events, gap) == expected)
    assert(TwsSessions.merge(Nil, events.reverse, gap) == expected)
    // fold one event at a time through state, any order
    val folded = events.permutations.take(12).map { perm =>
      perm.foldLeft(Seq.empty[OpenSession])((st, e) =>
        TwsSessions.merge(st, Seq(e), gap))
    }.toSeq
    assert(folded.forall(_ == expected), folded)
  }

  test("timers finalize sessions once the watermark passes their end; " +
      "sessions merge across micro-batches (MemoryStream, RocksDB)") {
    implicit val ctx = spark.sqlContext
    def at(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val name = "tws_sess_stream"
    TwsCdc.withRocksDb(spark) {
      val input = MemoryStream[EventArrival]
      val q = TwsSessions.sessions(input.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // batch 1: one session [10:00, 10:20]
        input.addData(Seq(EventArrival(at("10:00"), 7L),
          EventArrival(at("10:20"), 7L)))
        q.processAllAvailable()
        // batch 2: extends it across the batch boundary; second user opens
        input.addData(Seq(EventArrival(at("10:45"), 7L),
          EventArrival(at("10:40"), 9L)))
        q.processAllAvailable()
        assert(spark.table(name).count() == 0) // nothing finalized yet
        // batch 3: 13:00 events advance the watermark (eff. next batch)
        input.addData(Seq(EventArrival(at("13:00"), 7L)))
        q.processAllAvailable()
        // batch 4: watermark 12:50 > every earlier session end -> timers fire
        input.addData(Seq(EventArrival(at("15:00"), 9L)))
        q.processAllAvailable()
        val got = spark.table(name)
          .as[SessionOut].collect().map(s =>
            (s.user_id, s.session_start, s.session_end, s.n_events)).toSet
        assert(got.contains((7L, at("10:00"), at("11:15"), 3L)), got)
        assert(got.contains((9L, at("10:40"), at("11:10"), 1L)), got)
        assert(got.contains((7L, at("13:00"), at("13:30"), 1L)), got)
      } finally {
        q.stop()
        try spark.catalog.dropTempView(name) catch { case _: Exception => () }
      }
    }
  }

  test("timer-driven file twin equals the batch session_window at sf0.001") {
    val batch = rows(Relational.sessionWindows(spark, sf0001)
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz")))
    assert(batch.nonEmpty)
    assert(rows(TwsSessions.userSessionsFromFiles(spark, sf0001)) == batch)
  }

  test("timer-driven state carries across finer file-batches (chunks=7)") {
    val batch = rows(Relational.sessionWindows(spark, sf0001)
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz")))
    assert(rows(TwsSessions.userSessionsFromFiles(spark, sf0001, chunks = 7))
      == batch)
  }

  test("restart resumes ListState AND registered timers from the RocksDB " +
      "checkpoint: crash-spanning sessions merge, no duplicates, no loss") {
    // The timer registry is checkpointed state too: run 1's open sessions
    // each carry a pending event-time timer, the "crash" happens before the
    // tail file and the flush sentinel arrive, and run 2 finalizes BOTH
    // pre-crash and crash-spanning sessions only if timers + ListState were
    // restored together.
    import org.apache.spark.sql.streaming.Trigger
    val work = java.nio.file.Files.createTempDirectory("tws_sess_restart").toFile
    try TwsCdc.withRocksDb(spark) {
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
        require(dst.setLastModified(FileStage.BaseMtime + i * 60_000L))
      }
      def run(): Unit = {
        val q = ReplayHarness.runWithStatePartitions(spark, 8) {
          TwsSessions.sessions(
            spark.readStream.schema(staged.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(inDir.getAbsolutePath))
            .writeStream.format("parquet").option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
        }
        try q.awaitTermination() finally q.stop()
      }
      arrive(0); arrive(1)
      run()
      // the advancing watermark must fire timers mid-stream, before the
      // crash — append-mode steady state, not one big final flush
      assert(spark.read.parquet(outDir).count() > 0,
        "no timer fired before the restart")
      arrive(2)
      val maxTs = staged.agg(org.apache.spark.sql.functions.max(col("ts")))
        .head().getTimestamp(0)
      val t = new java.sql.Timestamp(maxTs.getTime + 24L * 3600 * 1000)
      FileStage.appendSentinel(
        Seq((-1L, t, -1L)).toDF("event_id", "ts", "user_id"),
        inDir.getAbsolutePath, 3, 0)
      run()
      val got = spark.read.parquet(outDir)
        .filter(!col("user_id").eqNullSafe(-1L))
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
        .collect().map(_.toSeq).toSeq
      val batch = rows(Relational.sessionWindows(spark, sf0001)
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", col("session_end").cast("timestamp_ntz")))
      assert(got.toSet == batch.toSet)
      assert(got.size == batch.size, "duplicated emissions after restart")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
  }
}
