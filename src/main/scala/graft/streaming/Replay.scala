package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.mqtt.MqttBroker

/** The broker-replay seam of the DSv2 exemplar [[StreamingState]]: publish
  * a replay message frame into a fresh [[MqttBroker]] buffer in arrival
  * order ((ts, msg_id) — the batch pipelines' total order), so buffer
  * positions become this run's msg_ids and every downstream tiebreak agrees
  * with the batch oracle. The driver iterates the whole frame, so this seam
  * is for that one exemplar; every other streaming operator ingests through
  * [[ReplayHarness]]'s distributed file replay.
  */
private[streaming] object Replay {

  private val runId = new AtomicInteger(0)

  /** Returns (brokerName, messageCount). Callers own the buffer and must
    * `MqttBroker.clear` it (in a finally) when done.
    */
  def publish(m: DataFrame, label: String): (String, Int) = {
    val rows = m.select(col("msg_id"),
        expr("unix_micros(cast(ts as timestamp))").as("us"),
        col("topic"), col("value"), col("qos"), col("retain"))
      .orderBy(col("us"), col("msg_id")) // distributed sort; driver iterates
      .collect()
    val broker = s"${label}_replay_${runId.incrementAndGet()}"
    MqttBroker.clear(broker)
    rows.foreach { r =>
      MqttBroker.publish(broker, r.getString(2), r.getAs[Array[Byte]](3),
        qos = r.getInt(4), retain = r.getInt(5) != 0, tsMicros = r.getLong(1))
    }
    (broker, rows.length)
  }

  def perTrigger(n: Int, chunks: Int): Long =
    math.max(1L, math.ceil(n.toDouble / chunks).toLong)
}
