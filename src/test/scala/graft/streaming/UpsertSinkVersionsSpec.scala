package graft.streaming

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Fault injection and replay for the versioned parquet upsert sink
  * ([[UpsertSink.merge]]): a writer killed between any two publish steps,
  * a checkpoint replay, the retention bound, and the one-job budget.
  */
class UpsertSinkVersionsSpec extends SparkSpec {
  import spark.implicits._

  private def batch(msgs: (Long, Long, String, String)*): DataFrame =
    msgs.map { case (id, t, topic, v) =>
      (id, new Timestamp(t * 1000L), topic, v.getBytes("UTF-8"), 0, 0)
    }.toDF("msg_id", "ts", "topic", "value", "qos", "retain")

  private val b0 = batch((1, 10, "t", "a"), (2, 11, "u", "x"))
  private val b1 = batch((3, 12, "t", "b"), (4, 13, "w", "n"))
  private val b2 = batch((5, 9, "t", "late"), (6, 14, "u", "y"))
  private val b3 = batch((7, 15, "v", "z"))
  private val s0 = Set("t" -> "a", "u" -> "x")
  private val s1 = Set("t" -> "b", "u" -> "x", "w" -> "n")
  private val s2 = Set("t" -> "b", "u" -> "y", "w" -> "n")

  private def fresh(): String =
    Files.createTempDirectory("upsert_versions").toFile.getAbsolutePath + "/state"

  private def state(path: String): Set[(String, String)] =
    UpsertSink.readState(spark, path).get
      .select($"topic", $"value".cast("string")).as[(String, String)].collect().toSet

  private def entries(path: String): Seq[String] =
    Option(new File(path).list()).toSeq.flatten.filterNot(_.startsWith(".")).sorted

  private def mergeAll(path: String, batches: DataFrame*): Unit =
    batches.zipWithIndex.foreach { case (b, i) => UpsertSink.merge(path)(b, i.toLong) }

  /** Spark jobs `body` starts on this thread, and their stages. */
  private def sparkWork(body: => Any): (Int, Int) = {
    val group = s"upsert-versions-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          stages.addAndGet(e.stageInfos.size)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, stages.get)
  }

  test("readState is None only while no version exists; other failures propagate") {
    val p = fresh()
    assert(UpsertSink.readState(spark, p).isEmpty)
    UpsertSink.merge(p)(b0, 0L)
    assert(state(p) == s0)
    // a damaged newest version fails the read and the next merge, so the
    // batch fails and its checkpoint replays it; it is never taken as "no
    // state", which would rebuild the state from the batch alone
    FileUtils.forceDelete(new File(p, "_v0/_schema.json"))
    intercept[FileNotFoundException](UpsertSink.readState(spark, p))
    intercept[FileNotFoundException](UpsertSink.merge(p)(b1, 1L))
    assert(entries(p) == Seq("_v0"))
  }

  test("a writer killed before the rename leaves readState on the last " +
      "published version, and the replay publishes the batch") {
    val p = fresh()
    UpsertSink.merge(p)(b0, 0L)
    // killed mid-write: a partial file under batch 1's temporary directory
    val partial = new File(p, "_tmp_v1")
    partial.mkdirs()
    Files.write(new File(partial, "part-00000.parquet").toPath, Array[Byte](1, 2, 3))
    assert(state(p) == s0)
    UpsertSink.merge(p)(b1, 1L)
    assert(state(p) == s1)
    // killed after the write, before the rename: batch 2's complete output
    val side = fresh()
    mergeAll(side, b0, b1, b2)
    FileUtils.moveDirectory(new File(side, "_v2"), new File(p, "_tmp_v2"))
    assert(state(p) == s1)
    UpsertSink.merge(p)(b2, 2L)
    assert(state(p) == s2)
    assert(entries(p) == Seq("_v0", "_v1", "_v2"))
  }

  test("replaying a published batch id is a no-op that starts no job") {
    val p = fresh()
    mergeAll(p, b0, b1)
    val before = entries(p)
    // different rows under a published id: a no-op leaves them out
    val (jobs, _) = sparkWork(UpsertSink.merge(p)(b3, 1L))
    assert(jobs == 0)
    assert(state(p) == s1)
    assert(entries(p) == before)
    // a batch id below the newest version that was never published is no
    // replay: another checkpoint is writing into this state directory
    UpsertSink.merge(p)(b2, 5L)
    intercept[IllegalStateException](UpsertSink.merge(p)(b3, 3L))
  }

  test("versions superseded longer than the grace period are deleted; " +
      "the newest never is") {
    val p = fresh()
    mergeAll(p, b0, b1, b2)
    assert(entries(p) == Seq("_v0", "_v1", "_v2"))
    // v0 and v1 were superseded (by v1 and v2) more than the grace period ago
    val old = System.currentTimeMillis() - 2 * UpsertSink.GraceMs
    Seq("_v0", "_v1", "_v2").foreach(v => assert(new File(p, v).setLastModified(old)))
    UpsertSink.merge(p)(b3, 3L)
    assert(entries(p) == Seq("_v2", "_v3"))
    // long after the last publish only the newest version is left
    UpsertSink.prune(new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(p), System.currentTimeMillis() + 10 * UpsertSink.GraceMs)
    assert(entries(p) == Seq("_v3"))
    assert(state(p) == s2 + ("v" -> "z"))
  }

  test("a merge is one Spark job of one stage, and readState starts none") {
    val p = fresh()
    assert(sparkWork(UpsertSink.merge(p)(b0, 0L)) == ((1, 1)))
    assert(sparkWork(UpsertSink.merge(p)(b1, 1L)) == ((1, 1)))
    assert(sparkWork(UpsertSink.readState(spark, p))._1 == 0)
    assert(state(p) == s1)
  }
}
