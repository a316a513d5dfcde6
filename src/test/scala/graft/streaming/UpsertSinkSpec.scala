package graft.streaming

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.MqttPipeline

/** The keyed upsert sink in both forms. The JDBC form runs against embedded
  * Derby (the JDBC engine shipped with Spark) and must converge to exactly
  * the reference's `mqtt` table contents: one row per topic holding the last
  * committed message (/root/reference/mysql.sql:51, mqtt2sql.py:579-629).
  */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private def msg(id: Long, t: Long, topic: String, v: String) =
    MqttMsg(id, ts(t), topic, v.getBytes("UTF-8"), 0, 0)

  test("mergeSql generates a standard keyed MERGE with quoted identifiers") {
    val sql = UpsertSink.mergeSql("mqtt", "mqtt_stage", Seq("topic"),
      Seq("msg_id", "ts", "topic", "value"))
    assert(sql ==
      """MERGE INTO mqtt t USING mqtt_stage s ON t."topic" = s."topic"
        |WHEN MATCHED THEN UPDATE SET "msg_id" = s."msg_id", "ts" = s."ts", "value" = s."value"
        |WHEN NOT MATCHED THEN INSERT ("msg_id", "ts", "topic", "value") VALUES (s."msg_id", s."ts", s."topic", s."value")""".stripMargin)
  }

  test("JDBC MERGE upsert into Derby converges to last-message-per-topic") {
    val dbDir = Files.createTempDirectory("derby_upsert").toFile.getAbsolutePath
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        """CREATE TABLE mqtt ("msg_id" BIGINT, "ts" TIMESTAMP,
          |  "topic" VARCHAR(1024) NOT NULL PRIMARY KEY,
          |  "value" BLOB, "qos" INT, "retain" INT)""".stripMargin)
    } finally conn.close()

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[MqttMsg]
    val q = input.toDS().toDF().writeStream
      .foreachBatch(UpsertSink.mergeJdbc(url, "mqtt") _)
      .option("checkpointLocation",
        Files.createTempDirectory("derby_ckpt").toFile.getAbsolutePath)
      .outputMode("append").start()
    // batch 1: t twice (intra-batch reduce), u once
    input.addData(Seq(msg(1, 10, "t", "a"), msg(2, 11, "t", "b"), msg(3, 12, "u", "x")))
    q.processAllAvailable()
    // batch 2: t updated (cross-batch MERGE match), v inserted
    input.addData(Seq(msg(4, 13, "t", "c"), msg(5, 14, "v", "z")))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.jdbc(url, "mqtt", new java.util.Properties)
      .select($"topic", $"value".cast("string"), $"msg_id")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("t", "c", 4L), ("u", "x", 3L), ("v", "z", 5L)))
  }

  test("JDBC merge is idempotent: replaying a batch leaves the state unchanged") {
    val dbDir = Files.createTempDirectory("derby_idem").toFile.getAbsolutePath
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        """CREATE TABLE mqtt ("msg_id" BIGINT, "ts" TIMESTAMP,
          |  "topic" VARCHAR(1024) NOT NULL PRIMARY KEY,
          |  "value" BLOB, "qos" INT, "retain" INT)""".stripMargin)
    } finally conn.close()
    val batch = Seq(msg(1, 10, "t", "a"), msg(2, 11, "u", "x"))
      .map(m => (m.msg_id, m.ts, m.topic, m.value, m.qos, m.retain))
      .toDF("msg_id", "ts", "topic", "value", "qos", "retain")
    UpsertSink.mergeJdbc(url, "mqtt")(batch, 0L)
    UpsertSink.mergeJdbc(url, "mqtt")(batch, 0L) // checkpoint-restart replay
    val got = spark.read.jdbc(url, "mqtt", new java.util.Properties)
      .select($"topic", $"value".cast("string")).as[(String, String)].collect().toSet
    assert(got == Set(("t", "a"), ("u", "x")))
  }

  test("parquet merge stand-in equals the batch stateTable over all messages") {
    val statePath =
      Files.createTempDirectory("upsert_pq").toFile.getAbsolutePath + "/state"
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[MqttMsg]
    val q = input.toDS().toDF().writeStream
      .foreachBatch(UpsertSink.merge(statePath) _)
      .option("checkpointLocation",
        Files.createTempDirectory("upsert_ck").toFile.getAbsolutePath)
      .outputMode("append").start()
    val b1 = Seq(msg(1, 10, "t", "a"), msg(2, 11, "u", "x"))
    val b2 = Seq(msg(3, 12, "t", "b"), msg(4, 13, "w", "n"))
    Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = UpsertSink.readState(spark, statePath).get
      .select($"topic", $"value".cast("string")).as[(String, String)].collect().toSet
    val all = (b1 ++ b2).map(m => (m.msg_id, m.ts, m.topic, m.value, m.qos, m.retain))
      .toDF("msg_id", "ts", "topic", "value", "qos", "retain")
    val expected = MqttPipeline.stateTable(all)
      .select($"topic", $"value".cast("string")).as[(String, String)].collect().toSet
    assert(got == expected)
  }
}
