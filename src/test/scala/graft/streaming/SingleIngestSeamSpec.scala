package graft.streaming

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Every streaming operator ingests through ONE seam, the distributed file
  * replay of [[ReplayHarness]]. The driver-fed form — collect the input,
  * push it into a MemoryStream or publish it into a broker buffer — lives
  * only in the DSv2 exemplar ([[StreamingState]] + [[Replay]]). This spec
  * keeps a second ingest path from growing back beside the file forms.
  */
class SingleIngestSeamSpec extends AnyFunSuite {

  private val dir = new File("src/main/scala/graft/streaming")
  private val allowed = Set("StreamingState.scala", "Replay.scala")
  private val markers = Seq("MemoryStream", ".addData(", "Replay.publish")

  test("driver-fed ingest appears only in the DSv2 exemplar") {
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".scala"))
    assert(files.length > 10, s"no streaming sources under ${dir.getAbsolutePath}")
    val offenders = for {
      f <- files.toSeq if !allowed(f.getName)
      text = { val s = Source.fromFile(f, "UTF-8"); try s.mkString finally s.close() }
      m <- markers if text.contains(m)
    } yield s"${f.getName}: $m"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
