package graft.sources.mqtt

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.MqttTopicMatches

/** DataSource V2 streaming MQTT source (SURVEY §2.1 S1).
  *
  * The reference subscribes a paho client to N topic filters and processes
  * messages via callbacks (mqtt2sql.py:737-787). Here the driver-side
  * [[MqttClient]], speaking MQTT over a [[SocketMqttTransport]], buffers
  * received messages into [[MqttBroker]], and the engine consumes them
  * through real MicroBatchStream mechanics:
  *
  *  - offsets = absolute receive positions; each trigger drains [start, end)
  *    exactly once, checkpointable and replayable — already a delivery
  *    upgrade over the reference's QoS-0 at-most-once;
  *  - `commit(end)` TRIMS the driver-side buffer up to the committed
  *    position (offsets stay absolute via a base watermark), so a
  *    long-running stream holds only the uncommitted tail in memory —
  *    the buffer lifecycle the reference gets for free from its
  *    message-at-a-time callbacks;
  *  - `.option("maxOffsetsPerTrigger", n)` bounds each micro-batch
  *    (admission control — the reference's BoundedSemaphore(50) backpressure,
  *    mqtt2sql.py:121,461,784, recast as Spark's ReadLimit contract);
  *  - subscription topic filters (`+`/`#`) are applied AT THE SOURCE
  *    (broker-side pushdown in the reference, mqtt2sql.py:757) via the same
  *    [[MqttTopicMatches]] compilation the engine exposes as a predicate;
  *  - rows are emitted in arrival order with receipt timestamps
  *    (mqtt2sql.py:522 semantics).
  *
  * Scale boundary (documented, by design): the buffer lives on the driver,
  * like every single-endpoint streaming ingest (an MQTT subscription is one
  * TCP session — the reference is likewise a single consumer). Throughput is
  * bounded by driver ingest, not by the cluster; partitioned parallelism
  * starts downstream of the source. Committed trimming keeps the resident
  * set at O(uncommitted), not O(stream). One consumer group per broker
  * buffer: committed data is gone (QoS-0 parity; a second independent query
  * should use its own buffer name).
  *
  * Usage:
  * {{{
  *   MqttBroker.publish("b1", "tele/dev/SENSOR", bytes)
  *   spark.readStream.format("graft.sources.mqtt.MqttSourceProvider")
  *     .option("broker", "b1").option("subscribe", "tele/+/SENSOR")
  *     .option("maxOffsetsPerTrigger", "1024").load()
  * }}}
  */
object MqttSchema {
  val schema: StructType = StructType(Seq(
    StructField("msg_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("value", BinaryType, nullable = false),
    StructField("qos", IntegerType, nullable = false),
    StructField("retain", IntegerType, nullable = false)))
}

/** In-process receive buffer on the driver, fed by [[MqttClient]] over a
  * [[SocketMqttTransport]]: `publish` is its on-message callback (the
  * reference's paho on_message). Positions are absolute (never reset by
  * trimming): `base` counts messages already trimmed away,
  * `base + buf.size` is the high-water mark.
  */
object MqttBroker {
  final case class Received(msgId: Long, tsMicros: Long, topic: String,
      value: Array[Byte], qos: Int, retain: Boolean)

  private final class Buf {
    var base: Long = 0L
    val msgs: ArrayBuffer[Received] = ArrayBuffer.empty
    var connected: Boolean = true
    var reconnects: Long = 0L
    var lostWhileDown: Long = 0L
  }

  private val buffers = new ConcurrentHashMap[String, Buf]()

  def publish(broker: String, topic: String, value: Array[Byte],
      qos: Int = 0, retain: Boolean = false,
      tsMicros: Long = System.currentTimeMillis() * 1000L): Unit = {
    val buf = buffers.computeIfAbsent(broker, _ => new Buf)
    buf.synchronized {
      if (!buf.connected) buf.lostWhileDown += 1 // QoS-0: nothing is queued broker-side
      else buf.msgs += Received(buf.base + buf.msgs.size, tsMicros, topic, value, qos, retain)
    }
  }

  // --- connection lifecycle (SURVEY §2.7 ST7) ------------------------------
  // The reference's loop reconnects on MQTT_ERR_CONN_LOST and carries on
  // (/root/reference/mqtt2sql.py:899-924); with QoS-0 + clean_session the
  // broker queues NOTHING during the outage, so messages published while
  // down are lost (at-most-once). The stand-in reproduces exactly that: a
  // dropped connection discards incoming publishes (counted, never silent),
  // the streaming query keeps running (latestOffset simply stops advancing),
  // and restoreConnection() resumes delivery — the reconnect seam a real
  // paho-backed client would drive from its on_disconnect callback.

  def dropConnection(broker: String): Unit = {
    val buf = buffers.computeIfAbsent(broker, _ => new Buf)
    buf.synchronized { buf.connected = false }
  }

  def restoreConnection(broker: String): Unit = {
    val buf = buffers.computeIfAbsent(broker, _ => new Buf)
    buf.synchronized {
      if (!buf.connected) { buf.connected = true; buf.reconnects += 1 }
    }
  }

  def reconnectCount(broker: String): Long = {
    val buf = buffers.get(broker)
    if (buf == null) 0L else buf.synchronized(buf.reconnects)
  }

  /** Messages lost during outages (QoS-0 truth-telling — the reference loses
    * them invisibly; we at least count).
    */
  def lostCount(broker: String): Long = {
    val buf = buffers.get(broker)
    if (buf == null) 0L else buf.synchronized(buf.lostWhileDown)
  }

  /** High-water mark: absolute position one past the last received message. */
  def size(broker: String): Long = {
    val buf = buffers.get(broker)
    if (buf == null) 0L else buf.synchronized(buf.base + buf.msgs.size)
  }

  /** Messages still resident in memory (not yet trimmed by commit). */
  def retained(broker: String): Int = {
    val buf = buffers.get(broker)
    if (buf == null) 0 else buf.synchronized(buf.msgs.size)
  }

  /** Absolute-position slice [from, until); positions below the trim
    * watermark yield nothing (they are gone — committed and released).
    */
  def slice(broker: String, from: Long, until: Long): Seq[Received] = {
    val buf = buffers.get(broker)
    if (buf == null) Seq.empty
    else buf.synchronized {
      val lo = math.max(from - buf.base, 0L).toInt
      val hi = math.max(until - buf.base, 0L).toInt
      buf.msgs.slice(lo, hi).toVector
    }
  }

  /** Release all messages below absolute position `pos` (checkpoint-committed
    * prefix). Idempotent; never raises the watermark past the received size.
    */
  def trimTo(broker: String, pos: Long): Unit = {
    val buf = buffers.get(broker)
    if (buf != null) buf.synchronized {
      val drop = math.min(math.max(pos - buf.base, 0L), buf.msgs.size.toLong).toInt
      if (drop > 0) {
        buf.msgs.remove(0, drop)
        buf.base += drop
      }
    }
  }

  def clear(broker: String): Unit = buffers.remove(broker)
}

class MqttSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MqttSchema.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MqttTable(properties.asScala.toMap)
}

class MqttTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"mqtt:${props.getOrElse("broker", "default")}"
  override def schema(): StructType = MqttSchema.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new MqttScan(
      options.getOrDefault("broker", "default"),
      Option(options.get("subscribe")).map(_.split(',').toSeq).getOrElse(Seq("#")),
      Option(options.get("maxOffsetsPerTrigger")).map(_.toLong))
}

class MqttScan(broker: String, patterns: Seq[String], maxPerTrigger: Option[Long])
    extends Scan {
  override def readSchema(): StructType = MqttSchema.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MqttMicroBatchStream(broker, patterns, maxPerTrigger)
}

case class MqttOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

class MqttMicroBatchStream(broker: String, patterns: Seq[String],
    maxPerTrigger: Option[Long]) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow: the end position is pinned when the trigger
    * starts; the query drains up to it (respecting maxOffsetsPerTrigger per
    * batch) and terminates — the streaming equivalent of "process the
    * backlog and stop".
    */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(MqttBroker.size(broker))

  override def initialOffset(): Offset = MqttOffset(0L)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")
  override def deserializeOffset(json: String): Offset = MqttOffset(json.trim.toLong)

  /** Checkpoint-committed prefix -> release driver memory (the reference's
    * per-message callback frees each message after its DB commit; this is the
    * micro-batch form of the same lifecycle).
    */
  override def commit(end: Offset): Unit =
    MqttBroker.trimTo(broker, end.asInstanceOf[MqttOffset].pos)
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = availableNowCap.getOrElse(MqttBroker.size(broker))
    val from = start.asInstanceOf[MqttOffset].pos
    limit match {
      case r: ReadMaxRows => MqttOffset(math.min(avail, from + r.maxRows()))
      case _ => MqttOffset(avail)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[MqttOffset].pos
    val until = end.asInstanceOf[MqttOffset].pos
    // subscription filter applied at the source — the engine never sees
    // non-matching messages (broker-side pushdown parity)
    val compiled = patterns.map(MqttTopicMatches.compile)
    val msgs = MqttBroker.slice(broker, from, until)
      .filter(m => compiled.exists(_.matcher(m.topic).matches()))
    // chunk for parallel consumption; order within a chunk is arrival order
    msgs.grouped(1024).map(chunk => MqttInputPartition(chunk.toArray): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new MqttReaderFactory
}

case class MqttInputPartition(msgs: Array[MqttBroker.Received]) extends InputPartition

class MqttReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val msgs = partition.asInstanceOf[MqttInputPartition].msgs
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < msgs.length }
      override def get(): InternalRow = {
        val m = msgs(i)
        InternalRow(m.msgId, m.tsMicros, UTF8String.fromString(m.topic),
          m.value, m.qos, if (m.retain) 1 else 0)
      }
      override def close(): Unit = ()
    }
  }
}
