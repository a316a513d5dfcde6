package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.MqttQueries

/** The backfill-to-streaming handoff (transformWithState initial state):
  * the bootstrapped stream must behave as if it had replayed the head —
  * proven directly on a crafted fixture (with a fresh-state CONTROL run
  * showing the divergence the bootstrap prevents), then end-to-end against
  * the batch history at sf0.001 with the boundary-duplicate non-vacuity
  * asserted from the SAME cut the implementation uses.
  */
class TwsBootstrapCdcSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private def msg(id: Long, t: Long, topic: String, v: String) =
    MqttMsg(id, ts(t), topic, v.getBytes("UTF-8"), 0, 0)

  test("bootstrapped state suppresses a tail message equal to the head's " +
      "last payload; a fresh-state control re-emits it") {
    implicit val ctx = spark.sqlContext
    // head's final snapshot: t->a, u->q. Tail opens with t->a (UNCHANGED:
    // only the bootstrap can know), u->r (changed), v->x (new topic).
    val snapshot = Seq(TopicLast("t", "a".getBytes("UTF-8")),
      TopicLast("u", "q".getBytes("UTF-8"))).toDS()
    val tail = Seq(msg(10, 20, "t", "a"), msg(11, 21, "u", "r"),
      msg(12, 22, "v", "x"))
    def run(bootstrap: Boolean): Set[Long] = TwsCdc.withRocksDb(spark) {
      val name = s"handoff_spec_${if (bootstrap) "b" else "f"}"
      val input = MemoryStream[MqttMsg]
      val cdc = if (bootstrap) TwsBootstrapCdc.changesFrom(input.toDS(), snapshot)
        else TwsCdc.changes(input.toDS())
      val q = cdc.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(tail); q.processAllAvailable()
        spark.table(name).as[CdcEvent].collect().map(_.msg_id).toSet
      } finally {
        q.stop()
        try spark.catalog.dropTempView(name) catch { case _: Exception => () }
      }
    }
    assert(run(bootstrap = true) == Set(11L, 12L),
      "bootstrap must suppress the unchanged 10 and emit the changed/new rows")
    assert(run(bootstrap = false) == Set(10L, 11L, 12L),
      "the fresh-state control must re-emit 10 — otherwise the " +
        "suppression assertion above is vacuous")
  }

  test("handoff equals the batch mqtt_history at sf0.001, and the cut has " +
      "a boundary-duplicate pair (the bootstrap is load-bearing)") {
    val m = MqttQueries.replayMessages(spark, sf0001)
    val t = TwsBootstrapCdc.cutAt(m, 0.7)
    val head = m.filter(col("ts") <= lit(t))
    val tailFirst = m.filter(col("ts") > lit(t))
      .groupBy(col("topic"))
      .agg(min_by(col("value"), struct(col("ts"), col("msg_id"))).as("first_value"))
    val boundaryDups = TwsBootstrapCdc.snapshotOf(head)
      .join(tailFirst, "topic")
      .filter(col("value") === col("first_value")).count()
    assert(boundaryDups > 0,
      "no topic's first tail payload equals the head snapshot at this cut " +
        "— the handoff equality below would hold even with a broken bootstrap")
    val batch = MqttQueries.history(spark, sf0001).collect()
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }).toSeq
    val got = TwsBootstrapCdc.history(spark, sf0001).collect()
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }).toSeq
    assert(batch.nonEmpty && got == batch)
  }

  test("restart after the handoff resumes the EVOLVED state, not the " +
      "bootstrap snapshot (initial state applies once, at query birth)") {
    // snapshot: t->a. Pre-crash batch: t->b (emits; state evolves to b).
    // Post-crash batch: t->a — equal to the SNAPSHOT but not to the evolved
    // last, so it must EMIT; a restart that re-applied handleInitialState
    // would suppress it. The fixture makes the two failure modes disjoint.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.{Dataset, Row}
    val work = java.nio.file.Files.createTempDirectory("handoff_restart").toFile
    TwsCdc.withRocksDb(spark) {
      try {
        val snapshot = Seq(TopicLast("t", "a".getBytes("UTF-8"))).toDS()
        val batches = Seq(Seq(msg(20, 30, "t", "b")), Seq(msg(21, 31, "t", "a")))
        val schema = Seq(msg(0, 0, "x", "y")).toDS().toDF().schema
        val inDir = new java.io.File(work, "in"); inDir.mkdirs()
        val outDir = new java.io.File(work, "out").getAbsolutePath
        val ckpt = new java.io.File(work, "ckpt").getAbsolutePath
        def arrive(i: Int): Unit = {
          val f = new java.io.File(work, s"stage$i")
          batches(i).toDS().toDF().coalesce(1).write.parquet(f.getAbsolutePath)
          val part = f.listFiles().filter(_.getName.startsWith("part-")).head
          val dst = new java.io.File(inDir, s"b$i.parquet")
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          require(dst.setLastModified(FileStage.BaseMtime + i * 60_000L))
        }
        def emit(df: Dataset[CdcEvent], id: Long): Unit =
          df.write.mode("append").parquet(outDir)
        def run(): Unit = {
          val q = ReplayHarness.runWithStatePartitions(spark, 2) {
            TwsBootstrapCdc.changesFrom(
              spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(inDir.getAbsolutePath).as[MqttMsg], snapshot)
              .writeStream.foreachBatch(emit _)
              .option("checkpointLocation", ckpt)
              .outputMode("append").trigger(Trigger.AvailableNow()).start()
          }
          try q.awaitTermination() finally q.stop()
        }
        arrive(0); run() // bootstrap applies; t->b emits, state evolves
        arrive(1); run() // restart from checkpoint; t->a must emit
        val emitted = spark.read.parquet(outDir)
          .select(col("msg_id")).collect().map(_.getLong(0)).toSet
        assert(emitted == Set(20L, 21L),
          s"got $emitted — 21 missing means the restart re-applied the snapshot")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(work)
    }
  }

  test("handoff is cut-invariant: a different split yields the same history") {
    val batch = MqttQueries.history(spark, sf0001).collect()
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }).toSeq
    val got = TwsBootstrapCdc.history(spark, sf0001, frac = 0.4).collect()
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x }).toSeq
    assert(got == batch)
  }
}
