package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One MQTT message in the streaming pipeline (the reference's
  * `(topic, payload, qos, retain)` callback payload plus receipt time and a
  * deterministic arrival id — /root/reference/mqtt2sql.py:478-480,522).
  */
case class MqttMsg(msg_id: Long, ts: Timestamp, topic: String,
    value: Array[Byte], qos: Int, retain: Int)

object MqttMsg {

  /** The staging projection of a replay message frame: [[MqttMsg]]'s
    * columns, `ts` as the TIMESTAMP the stream's encoder reads.
    */
  def staged(m: DataFrame): DataFrame =
    m.select(col("msg_id"), col("ts").cast("timestamp").as("ts"),
      col("topic"), col("value"), col("qos"), col("retain"))
}

/** A history (CDC) event: the message survived the diff-only gate. */
case class CdcEvent(topic: String, ts: Timestamp, msg_id: Long, value: Array[Byte])

/** The CDC state machine of the reference's trigger cascade
  * (reference `mysql.sql:78-91`), as one pure step: given a topic's
  * previous payload and one micro-batch of its messages, emit a history
  * event for the first message and for every payload CHANGE (content
  * equality), suppress unchanged repeats (history_diffonly=1 semantics),
  * and return the batch's last payload as the new state. Arrivals are
  * diffed in deterministic (ts, msg_id) order — the batch analog of commit
  * order. All three CDC processors call this one fold: [[StatefulCdc]]
  * (flatMapGroupsWithState), [[TwsCdc]]'s `CdcProcessor` and
  * [[TwsBootstrapCdc]]'s `BootstrapCdcProcessor` (transformWithState).
  * `CdcFoldProperties` pins it, without Spark, against one pass over the
  * whole input.
  */
object CdcFold {

  def apply(prev: Option[Array[Byte]], topic: String,
      batch: Iterator[MqttMsg]): (Option[Array[Byte]], Vector[CdcEvent]) = {
    var last = prev
    val out = Vector.newBuilder[CdcEvent]
    batch.toSeq.sortBy(m => (m.ts.getTime, m.msg_id)).foreach { m =>
      if (!last.exists(java.util.Arrays.equals(_, m.value)))
        out += CdcEvent(topic, m.ts, m.msg_id, m.value)
      last = Some(m.value)
    }
    (last, out.result())
  }
}

/** Streaming form of the reference's trigger cascade on
  * `flatMapGroupsWithState`: the state per key is exactly what the DB
  * trigger reads — the last payload — held in `GroupState[Array[Byte]]` and
  * advanced by [[CdcFold]]. Batch replay of the same input through
  * [[graft.operators.MqttPipeline.history]] (the `lag` window form) yields the
  * same events; `StreamingCdcSpec` asserts that equivalence, the core
  * incremental-equals-batch property (SURVEY §5.2d).
  *
  * Scale: state is one payload per topic; `flatMapGroupsWithState` hash-
  * partitions by topic, so a 1000-executor cluster shards the keyspace with
  * no cross-key coordination.
  */
object StatefulCdc {

  def changes(msgs: Dataset[MqttMsg]): Dataset[CdcEvent] = {
    implicit val stateEnc = Encoders.BINARY
    implicit val outEnc = Encoders.product[CdcEvent]
    msgs
      .groupByKey(_.topic)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (topic: String, batch: Iterator[MqttMsg], state: GroupState[Array[Byte]]) =>
          val (last, out) = CdcFold(state.getOption, topic, batch)
          last.foreach(state.update)
          out.iterator
      }
  }
}
