package graft.sources.mqtt

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

/** MQTT 3.1.1 wire codec — the packet subset the reference's client/broker
  * conversation actually uses (/root/reference/mqtt2sql.py:843-924 drives
  * paho through CONNECT/CONNACK, SUBSCRIBE/SUBACK, PUBLISH, PING and
  * DISCONNECT; QoS 0 throughout, mqtt2sql.py:757). Pure byte-level
  * encode/decode over streams: [[SocketMqttTransport]] (client half) and
  * [[MiniMqttServer]] (broker half) are both built on it, so the two ends
  * certify each other's framing — any asymmetry deadlocks or corrupts the
  * loopback tests immediately.
  *
  * Framing (MQTT 3.1.1 §2): fixed header byte `(type << 4) | flags`, then
  * the remaining length as a 1-4 byte base-128 varint, then the body.
  * Strings are 2-byte-big-endian-length-prefixed UTF-8 (§1.5.3).
  */
object MqttCodec {

  // packet types (MQTT 3.1.1 §2.2.1)
  val CONNECT = 1
  val CONNACK = 2
  val PUBLISH = 3
  val PUBACK = 4
  val SUBSCRIBE = 8
  val SUBACK = 9
  val PINGREQ = 12
  val PINGRESP = 13
  val DISCONNECT = 14

  final case class Packet(ptype: Int, flags: Int, body: Array[Byte])

  /** One whole packet onto the stream (flushed — packets are the unit of
    * conversation; a buffered half-packet would stall the peer).
    */
  def writePacket(out: OutputStream, ptype: Int, flags: Int,
      body: Array[Byte]): Unit = {
    out.write(((ptype << 4) | (flags & 0x0F)) & 0xFF)
    var len = body.length
    // remaining-length varint (§2.2.3): 7 value bits per byte, MSB = more
    var continue = true
    while (continue) {
      var b = len & 0x7F
      len >>>= 7
      if (len > 0) b |= 0x80 else continue = false
      out.write(b)
    }
    out.write(body)
    out.flush()
  }

  /** Blocking read of one whole packet; EOFException on orderly peer close
    * (the CONN_LOST signal the transport's reader consumes) and on a packet
    * truncated mid-header or mid-body; IOException on a remaining length
    * longer than the 4 bytes §2.2.3 allows.
    */
  def readPacket(in: InputStream): Packet = {
    val first = in.read()
    if (first < 0) throw new EOFException("MQTT stream closed")
    var len = 0
    var nBytes = 0
    var continue = true
    while (continue) {
      // a 4th byte with its continuation bit set announces a 5th
      if (nBytes == 4) throw new java.io.IOException("malformed remaining length")
      val b = in.read()
      if (b < 0) throw new EOFException("MQTT stream closed mid-header")
      len |= (b & 0x7F) << (7 * nBytes)
      nBytes += 1
      continue = (b & 0x80) != 0
    }
    val body = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val n = in.read(body, off, len - off)
      if (n < 0) throw new EOFException("MQTT stream closed mid-body")
      off += n
    }
    Packet((first >> 4) & 0x0F, first & 0x0F, body)
  }

  // ---- body builders -------------------------------------------------------

  private final class Body {
    private val buf = new ByteArrayOutputStream()
    def u8(v: Int): Body = { buf.write(v & 0xFF); this }
    def u16(v: Int): Body = { buf.write((v >> 8) & 0xFF); buf.write(v & 0xFF); this }
    def utf8(s: String): Body = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      u16(b.length); buf.write(b); this
    }
    def raw(b: Array[Byte]): Body = { buf.write(b); this }
    def bytes: Array[Byte] = buf.toByteArray
  }

  def connectBody(clientId: String, cleanSession: Boolean, keepaliveSec: Int,
      username: Option[String], password: Option[String]): Array[Byte] = {
    var flags = 0
    if (cleanSession) flags |= 0x02
    if (username.isDefined) flags |= 0x80
    if (username.isDefined && password.isDefined) flags |= 0x40
    val b = new Body()
      .utf8("MQTT").u8(4) // protocol name + level (3.1.1)
      .u8(flags).u16(keepaliveSec)
      .utf8(clientId)
    username.foreach(b.utf8)
    if (username.isDefined) password.foreach(b.utf8)
    b.bytes
  }

  def connackBody(sessionPresent: Boolean, returnCode: Int): Array[Byte] =
    new Body().u8(if (sessionPresent) 1 else 0).u8(returnCode).bytes

  /** QoS-0 PUBLISH (no packet id — §3.3.2.2 only includes one at QoS > 0). */
  def publishBody(topic: String, payload: Array[Byte]): Array[Byte] =
    new Body().utf8(topic).raw(payload).bytes

  def subscribeBody(packetId: Int, topicFilter: String, qos: Int): Array[Byte] =
    new Body().u16(packetId).utf8(topicFilter).u8(qos).bytes

  def subackBody(packetId: Int, grantedQos: Int): Array[Byte] =
    new Body().u16(packetId).u8(grantedQos).bytes

  // ---- body parsers --------------------------------------------------------

  private final class Cursor(body: Array[Byte]) {
    private var pos = 0
    def u8(): Int = { val v = body(pos) & 0xFF; pos += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def utf8(): String = {
      val len = u16()
      val s = new String(body, pos, len, StandardCharsets.UTF_8)
      pos += len
      s
    }
    def rest(): Array[Byte] = java.util.Arrays.copyOfRange(body, pos, body.length)
  }

  final case class ConnectInfo(clientId: String, cleanSession: Boolean,
      keepaliveSec: Int, username: Option[String], password: Option[String])

  def parseConnect(body: Array[Byte]): ConnectInfo = {
    val c = new Cursor(body)
    val proto = c.utf8()
    val level = c.u8()
    require(proto == "MQTT" && level == 4, s"unsupported protocol $proto/$level")
    val flags = c.u8()
    val keepalive = c.u16()
    val clientId = c.utf8()
    val user = if ((flags & 0x80) != 0) Some(c.utf8()) else None
    val pass = if ((flags & 0x40) != 0) Some(c.utf8()) else None
    ConnectInfo(clientId, (flags & 0x02) != 0, keepalive, user, pass)
  }

  /** CONNACK -> return code (§3.2.2.3; 0 accepted). */
  def parseConnack(body: Array[Byte]): Int = body(1) & 0xFF

  final case class PublishInfo(topic: String, payload: Array[Byte], qos: Int,
      retain: Boolean, packetId: Option[Int])

  def parsePublish(flags: Int, body: Array[Byte]): PublishInfo = {
    val qos = (flags >> 1) & 0x03
    val retain = (flags & 0x01) != 0
    val c = new Cursor(body)
    val topic = c.utf8()
    val packetId = if (qos > 0) Some(c.u16()) else None
    PublishInfo(topic, c.rest(), qos, retain, packetId)
  }

  final case class SubscribeInfo(packetId: Int, filters: Seq[(String, Int)])

  def parseSubscribe(body: Array[Byte]): SubscribeInfo = {
    val c = new Cursor(body)
    val packetId = c.u16()
    val filters = Seq.newBuilder[(String, Int)]
    var consumed = 2
    while (consumed < body.length) {
      val f = c.utf8()
      val qos = c.u8()
      consumed += 2 + f.getBytes(StandardCharsets.UTF_8).length + 1
      filters += ((f, qos))
    }
    SubscribeInfo(packetId, filters.result())
  }
}
