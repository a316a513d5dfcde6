package graft.streaming

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

import graft.SparkSpec

/** Pins the micro-batches each replay shape runs. The trailing no-data
  * micro-batch is on exactly when a flush sentinel was staged: an unflushed
  * replay runs only its data batches, and a flushed one runs its data
  * batches, the sentinel batch and ONE no-data batch that applies the
  * advanced watermark. Either flip of that rule changes a count here.
  *
  * Spark runs a no-data batch only for a stateful operator that has
  * something to evict or fire, so the CDC replays (no watermark, no
  * timers) run 3 batches with the switch either way; the watermarked
  * dedup replay is the unflushed shape whose count the switch changes.
  */
class ReplayBatchCountSpec extends SparkSpec {

  /** Runs `body` and returns, per stream it started (in start order), the
    * input row count of each executed micro-batch in batch order. A batch
    * counts as executed when its progress reports an `addBatch` duration.
    */
  private def batchesOf(body: => Unit): Seq[Seq[Long]] = {
    val started = new ConcurrentLinkedQueue[UUID]
    val rows = new ConcurrentHashMap[UUID, ConcurrentHashMap[Long, Long]]
    val terminated = new AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.durationMs.containsKey("addBatch"))
          rows.computeIfAbsent(e.progress.id, _ => new ConcurrentHashMap)
            .put(e.progress.batchId, e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      body
      // termination is posted after every progress event of its stream
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (terminated.get < started.size && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(terminated.get == started.size, "a replay stream never terminated")
    } finally spark.streams.removeListener(listener)
    started.asScala.toSeq.map { id =>
      Option(rows.get(id)).map(_.asScala.toSeq.sortBy(_._1).map(_._2))
        .getOrElse(Seq.empty)
    }
  }

  private def assertDataOnly(batches: Seq[Seq[Long]]): Unit = {
    assert(batches.size == 1, s"one stream per replay, got $batches")
    assert(batches.head.size == 3, s"3 data batches, got ${batches.head}")
    assert(batches.head.forall(_ > 0), s"a no-data batch ran: ${batches.head}")
  }

  test("unflushed CDC replays run only their data batches") {
    assertDataOnly(batchesOf(FileReplayHistory.history(spark, sf0001, chunks = 3)))
    assertDataOnly(batchesOf(
      FileReplayHistory.history(spark, sf0001, chunks = 3, useTws = true)))
    assertDataOnly(batchesOf(TwsBootstrapCdc.history(spark, sf0001, chunks = 3)))
  }

  test("an unflushed watermarked replay runs only its data batches") {
    assertDataOnly(batchesOf(
      StreamingDedup.exactWithinHorizonFromFiles(spark, sf0001, chunks = 3)))
  }

  test("a flushed replay runs its data batches, the sentinel batch and one " +
      "no-data flush batch") {
    val batches = batchesOf(FileReplayWindowed.hourlyStats(spark, sf0001, chunks = 3))
    assert(batches.size == 1, s"one stream per replay, got $batches")
    val b = batches.head
    assert(b.size == 5, s"3 data + sentinel + no-data flush, got $b")
    assert(b.take(3).forall(_ > 0), s"data batches: $b")
    assert(b(3) == 1L, s"the sentinel batch carries the one sentinel row: $b")
    assert(b(4) == 0L, s"the flush batch carries no data: $b")
  }
}
