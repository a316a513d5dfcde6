package graft.sources.mqtt

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, IOException}

import scala.reflect.ClassTag

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the MQTT 3.1.1 wire codec: arbitrary packets
  * must survive the write/read round trip byte-exactly — in particular
  * across the remaining-length varint width boundaries (127 / 128, 16383 /
  * 16384, §2.2.3) that the scripted end-to-end specs' small payloads never
  * reach — and packet sequences must frame without bleeding into each
  * other. Body codecs (CONNECT, PUBLISH, SUBSCRIBE) round-trip through
  * their parsers, UTF-8 multibyte topics included. Malformed input — a
  * remaining length longer than 4 bytes, a header or body cut short —
  * fails with a typed IOException, never a bogus allocation.
  */
object MqttCodecProperties extends Properties("MqttCodec") {

  import MqttCodec._

  private val payloadGen: Gen[Array[Byte]] = Gen.frequency(
    3 -> Gen.choose(0, 64),
    // straddle the 1->2 byte and 2->3 byte varint boundaries
    2 -> Gen.choose(120, 140),
    1 -> Gen.choose(16380, 16390),
    1 -> Gen.choose(0, 70000)
  ).flatMap(n => Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))

  private val topicGen: Gen[String] = for {
    n <- Gen.choose(1, 5)
    levels <- Gen.listOfN(n, Gen.oneOf("tele", "a", "sensor7", "ü", "日本語", "x-y_z"))
  } yield levels.mkString("/")

  private val typeGen: Gen[Int] =
    Gen.oneOf(CONNECT, CONNACK, PUBLISH, SUBSCRIBE, SUBACK, PINGREQ, DISCONNECT)

  property("packets round-trip byte-exactly across varint width boundaries") =
    forAll(typeGen, Gen.choose(0, 15), payloadGen) { (ptype, flags, body) =>
      val out = new ByteArrayOutputStream()
      writePacket(out, ptype, flags, body)
      val p = readPacket(new ByteArrayInputStream(out.toByteArray))
      p.ptype == ptype && p.flags == flags && java.util.Arrays.equals(p.body, body)
    }

  property("packet sequences frame cleanly (no bleed between packets)") =
    forAll(Gen.listOfN(5, payloadGen)) { bodies =>
      val out = new ByteArrayOutputStream()
      bodies.foreach(b => writePacket(out, PUBLISH, 0, b))
      val in = new ByteArrayInputStream(out.toByteArray)
      bodies.forall(b => java.util.Arrays.equals(readPacket(in).body, b))
    }

  property("CONNECT bodies round-trip (credentials, clean session, keepalive)") =
    forAll(Gen.alphaNumStr.suchThat(_.nonEmpty), Gen.oneOf(true, false),
      Gen.choose(0, 0xFFFF), Gen.option(Gen.alphaNumStr),
      Gen.option(Gen.alphaNumStr)) { (cid, clean, keepalive, user, pass) =>
      val info = parseConnect(connectBody(cid, clean, keepalive, user, pass))
      // a password without a username is not encodable (§3.1.2.9): the
      // codec drops it, matching the flag rules
      val expectPass = if (user.isDefined) pass else None
      info.clientId == cid && info.cleanSession == clean &&
        info.keepaliveSec == keepalive && info.username == user &&
        info.password == expectPass
    }

  property("QoS-0 PUBLISH bodies round-trip with multibyte UTF-8 topics") =
    forAll(topicGen, payloadGen) { (topic, payload) =>
      val pub = parsePublish(0, publishBody(topic, payload))
      pub.topic == topic && java.util.Arrays.equals(pub.payload, payload) &&
        pub.qos == 0 && !pub.retain && pub.packetId.isEmpty
    }

  property("SUBSCRIBE bodies round-trip, multibyte filters included") =
    forAll(Gen.choose(1, 0xFFFF), Gen.nonEmptyListOf(topicGen)) { (pid, filters) =>
      // encode n filters by concatenating single-filter bodies after the id
      val body = filters.foldLeft(subscribeBody(pid, filters.head, 0).take(2)) {
        (acc, f) => acc ++ subscribeBody(pid, f, 0).drop(2)
      }
      val sub = parseSubscribe(body)
      sub.packetId == pid && sub.filters.map(_._1) == filters
    }

  /** True when reading `bytes` fails with exactly `E` (EOFException is an
    * IOException, so the class must match, not merely conform).
    */
  private def failsWith[E <: Throwable](bytes: Array[Byte])(
      implicit ct: ClassTag[E]): Boolean =
    try { readPacket(new ByteArrayInputStream(bytes)); false }
    catch { case e: Throwable => e.getClass == ct.runtimeClass }

  private def encoded(body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writePacket(out, PUBLISH, 0, body)
    out.toByteArray
  }

  /** Fixed-header size: the type byte plus the remaining-length varint. */
  private def headerLen(bodyLen: Int): Int =
    if (bodyLen < 128) 2 else 1 + headerLen(bodyLen >>> 7)

  property("5 or more remaining-length bytes are rejected (MQTT 3.1.1 2.2.3)") =
    forAll(Gen.listOfN(4, Gen.choose(0x80, 0xFF)), Gen.choose(1, 4),
      Gen.choose(0, 0xFF), payloadGen) { (cont, extra, last, tail) =>
      // four continuation bytes, then more length bytes: `ff ff ff ff 7f`
      // once decoded to -1 and threw NegativeArraySizeException
      val more = Seq.fill(extra - 1)(0x80) :+ last
      val bytes = ((0x30 +: cont) ++ more).map(_.toByte).toArray ++ tail
      failsWith[IOException](bytes)
    }

  property("a header truncated mid-length is an EOFException") =
    forAll(Gen.choose(128, 70000)) { n =>
      val bytes = encoded(new Array[Byte](n))
      // keep the type byte and at least one, but not all, length bytes
      forAll(Gen.choose(2, headerLen(n) - 1)) { cut =>
        failsWith[EOFException](bytes.take(cut))
      }
    }

  property("a body truncated mid-way is an EOFException") =
    forAll(payloadGen.suchThat(_.nonEmpty)) { body =>
      val bytes = encoded(body)
      val header = headerLen(body.length)
      forAll(Gen.choose(header, bytes.length - 1)) { cut =>
        failsWith[EOFException](bytes.take(cut))
      }
    }
}
