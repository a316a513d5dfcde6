package graft.streaming

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Every streaming operator ingests through ONE seam, the distributed file
  * replay of [[ReplayHarness]]. The driver-fed form — collect the input,
  * push it into a MemoryStream or publish it into a broker buffer — lives
  * only in the DSv2 exemplar ([[StreamingState]] + [[Replay]]). This spec
  * keeps a second ingest path from growing back beside the file forms, and
  * a second replay runner beside the harness.
  */
class SingleIngestSeamSpec extends AnyFunSuite {

  private val dir = new File("src/main/scala/graft/streaming")
  private val allowed = Set("StreamingState.scala", "Replay.scala")
  private val markers = Seq("MemoryStream", ".addData(", "Replay.publish")

  private def sources: Seq[(String, String)] = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".scala"))
    assert(files.length > 10, s"no streaming sources under ${dir.getAbsolutePath}")
    files.toSeq.map { f =>
      val s = Source.fromFile(f, "UTF-8")
      try f.getName -> s.mkString finally s.close()
    }
  }

  private def offenders(allowed: Set[String], markers: Seq[String],
      text: String => String): Seq[String] = for {
    (name, source) <- sources if !allowed(name)
    m <- markers if text(source).contains(m)
  } yield s"$name: $m"

  test("driver-fed ingest appears only in the DSv2 exemplar") {
    val found = offenders(allowed, markers, identity)
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** The source with its block and line comments removed. */
  private def code(source: String): String =
    source.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("only the replay harness and the two upsert-sink runners start a " +
      "stream or set the no-data switch") {
    val found = offenders(
      Set("ReplayHarness.scala", "StreamingState.scala", "FileReplayState.scala"),
      Seq("Trigger.AvailableNow", "writeStream", "noDataMicroBatches",
        "noDataBatches"), code)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
