package graft

import java.io.File

import scala.io.Source

/** Every session in the engine comes from ONE factory, [[Session.local]],
  * so Bench, Verify, the plan tools and the specs cannot drift apart on
  * confs. This spec keeps a second session builder from growing back, and
  * pins the policy the factory sets.
  */
class SingleSessionSpec extends SparkSpec {

  // spelled in two parts so this file is not itself a match
  private val marker = "SparkSession" + ".builder"
  private val allowed = new File("src/main/scala/graft/Session.scala").getCanonicalFile

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("a session is built only in graft/Session.scala") {
    val files = Seq("src/main/scala", "src/test/scala").flatMap(d => scalaFiles(new File(d)))
    assert(files.length > 100, s"no sources under ${new File(".").getAbsolutePath}")
    assert(files.exists(_.getCanonicalFile == allowed), s"missing $allowed")
    val offenders = for {
      f <- files if f.getCanonicalFile != allowed
      text = { val s = Source.fromFile(f, "UTF-8"); try s.mkString finally s.close() }
      if text.contains(marker)
    } yield f.getPath
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("Session.local carries the engine's session policy and SQL surface") {
    val s = Session.local(4)
    assert(s.sparkContext.master == "local[4]")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.codegen.cache.maxEntries" -> "10000"
    ).foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    assert(s.sql("SELECT mqtt_topic_matches('tele/dev/SENSOR', 'tele/+/SENSOR')")
      .head().getBoolean(0))
  }
}
