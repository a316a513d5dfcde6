package graft.streaming

import java.sql.Timestamp

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** The one CDC fold ([[CdcFold]]) that all three CDC processors call,
  * property-tested without a Spark session against the definition: one
  * pass over a topic's whole input in (ts, msg_id) order keeps a message
  * when it is the topic's first or its payload differs from the previous
  * one by `Arrays.equals`. Folding batch by batch (random boundaries that
  * respect that order, shuffled within each batch, state carried across)
  * must give the same events. Payloads come from a tiny alphabet and are
  * built as fresh arrays, so equal bytes in distinct arrays are common and
  * a reference-equality diff would fail.
  */
object CdcFoldProperties extends Properties("CdcFold") {

  private val topics = Seq("a", "b", "c")

  /** Messages with distinct msg_ids; a small ts domain forces ts ties. */
  private val msgsGen: Gen[List[MqttMsg]] = for {
    n <- Gen.choose(0, 40)
    fields <- Gen.listOfN(n, for {
      topic <- Gen.oneOf(topics)
      ts <- Gen.choose(0L, 20L)
      payload <- Gen.listOfN(2, Gen.choose(0, 1).map(_.toByte))
    } yield (topic, ts, payload))
    ids <- Gen.pick(n, 0L until 1000L)
  } yield fields.zip(ids).map { case ((topic, ts, payload), id) =>
    MqttMsg(id, new Timestamp(ts), topic, payload.toArray, 0, 0)
  }

  private def ordered(msgs: Seq[MqttMsg]): Seq[MqttMsg] =
    msgs.sortBy(m => (m.ts.getTime, m.msg_id))

  /** The definition, over one topic's whole input. */
  private def model(msgs: Seq[MqttMsg]): Seq[CdcEvent] = {
    val in = ordered(msgs)
    in.indices.collect {
      case i if i == 0 || !java.util.Arrays.equals(in(i - 1).value, in(i).value) =>
        CdcEvent(in(i).topic, in(i).ts, in(i).msg_id, in(i).value)
    }
  }

  /** Byte arrays compare by reference in case-class equality. */
  private def comparable(events: Seq[CdcEvent]): Seq[(String, Timestamp, Long, Seq[Byte])] =
    events.map(e => (e.topic, e.ts, e.msg_id, e.value.toSeq))

  property("batch-by-batch fold equals one pass in (ts, msg_id) order") =
    forAll(msgsGen, Gen.listOf(Gen.choose(0, 40)), Gen.long) {
      (msgs, cuts, seed) =>
        val rnd = new scala.util.Random(seed)
        topics.forall { topic =>
          val in = ordered(msgs.filter(_.topic == topic))
          val bounds = (0 +: cuts.filter(_ <= in.size).sorted :+ in.size).distinct
          val batches = bounds.zip(bounds.tail).map { case (a, b) =>
            rnd.shuffle(in.slice(a, b))
          }
          val (_, folded) = batches.foldLeft(
              (Option.empty[Array[Byte]], Vector.empty[CdcEvent])) {
            case ((state, out), batch) =>
              val (next, events) = CdcFold(state, topic, batch.iterator)
              (next, out ++ events)
          }
          comparable(folded) == comparable(model(in))
        }
    }

  property("the returned state is the last payload in (ts, msg_id) order") =
    forAll(msgsGen) { msgs =>
      topics.forall { topic =>
        val in = msgs.filter(_.topic == topic)
        val (state, _) = CdcFold(None, topic, scala.util.Random.shuffle(in).iterator)
        state.map(_.toSeq) == ordered(in).lastOption.map(_.value.toSeq)
      }
    }
}
