package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.Session

/** Snapshot isolation of the versioned parquet upsert sink under
  * concurrency: one writer merges random batches while three readers scan
  * the state in a loop through [[UpsertSink.readState]]. Every scan must
  * succeed and equal the state after some prefix of the batches, and each
  * reader's prefixes must never go back. The live path's dashboard reads
  * the state this way, and a publish that renames the live directory away
  * fails such scans with FILE_NOT_EXIST.
  */
object UpsertSinkProperties extends Properties("UpsertSink.merge") {

  // each trial runs a dozen Spark merges against three looping readers
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3)

  private lazy val spark: SparkSession = Session.local(4)

  /** (topic, ts seconds, value) per message; msg_ids follow arrival order. */
  private type Msg = (String, Int, String)

  /** Topic -> (ts seconds, msg_id, value) of its last message by (ts, msg_id). */
  private type State = Map[String, (Int, Long, String)]

  private val msgGen: Gen[Msg] = for {
    topic <- Gen.choose(0, 11).map(i => s"tele/t$i")
    ts <- Gen.choose(0, 60)
    value <- Gen.choose(0, 999).map(_.toString)
  } yield (topic, ts, value)

  private val batchesGen: Gen[List[List[Msg]]] =
    Gen.choose(8, 12).flatMap(n => Gen.listOfN(n, Gen.choose(1, 30).flatMap(Gen.listOfN(_, msgGen))))

  private def withIds(batches: List[List[Msg]]): List[List[(Long, Msg)]] = {
    var id = 0L
    batches.map(_.map { m => id += 1; (id, m) })
  }

  private def fold(st: State, batch: List[(Long, Msg)]): State =
    batch.foldLeft(st) { case (acc, (id, (topic, t, v))) =>
      if (acc.get(topic).forall { case (wt, wid, _) => t > wt || (t == wt && id > wid) })
        acc + (topic -> ((t, id, v)))
      else acc
    }

  private def frame(batch: List[(Long, Msg)]): DataFrame = {
    import spark.implicits._
    batch.map { case (id, (topic, t, v)) =>
      (id, new Timestamp(t * 1000L), topic, v.getBytes("UTF-8"), 0, 0)
    }.toDF("msg_id", "ts", "topic", "value", "qos", "retain")
  }

  private def scan(path: String): Option[State] =
    UpsertSink.readState(spark, path).map(_.select("topic", "ts", "msg_id", "value").collect()
      .map(r => r.getString(0) -> ((r.getTimestamp(1).getTime / 1000L).toInt, r.getLong(2),
        new String(r.getAs[Array[Byte]](3), "UTF-8")))
      .toMap)

  property("concurrent scans see the state after a prefix of the batches, in order") =
    forAllNoShrink(batchesGen) { raw =>
      val batches = withIds(raw)
      // prefix 0 is "no version yet"; prefix k is the state after k batches
      val prefixes: IndexedSeq[Option[State]] =
        None +: batches.scanLeft(Map.empty: State)(fold).tail.map(Some(_)).toIndexedSeq
      val work = Files.createTempDirectory("upsert_props").toFile
      val path = work.getAbsolutePath + "/state"
      val writing = new AtomicBoolean(true)
      val pool = Executors.newFixedThreadPool(3)
      try {
        val readers = (0 until 3).map(_ => pool.submit(new Callable[Int] {
          def call(): Int = {
            var at = 0
            var scans = 0
            while (writing.get()) {
              val got = scan(path)
              val k = prefixes.indexWhere(_ == got, at)
              if (k < 0) throw new AssertionError(
                s"scan $scans read $got, the state after no prefix of at least $at batches")
              at = k
              scans += 1
            }
            scans
          }
        }))
        try batches.zipWithIndex.foreach { case (b, i) => UpsertSink.merge(path)(frame(b), i.toLong) }
        finally writing.set(false)
        // get() rethrows a reader's failure
        val scans = readers.map(_.get()).sum
        scans > 0 && scan(path) == prefixes.last
      } finally {
        writing.set(false)
        pool.shutdown()
        FileUtils.deleteQuietly(work)
      }
    }
}
