package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source audit of `graft/streaming`: the `foreachBatch` start path, its
  * triggers and its stop-time cache release live in `StreamRunner.scala`
  * alone, so a new view cannot grow another hand-copied `writeStream`
  * block. Scaladoc mentions of foreachBatch carry no leading dot and do
  * not match. */
class StreamRunnerAuditSpec extends AnyFunSuite {

  private val dir = java.nio.file.Paths.get("src/main/scala/graft/streaming")

  private def sources: Seq[(String, String)] = {
    val files = java.nio.file.Files.list(dir)
    try files.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
    finally files.close()
  }

  /** Each token, and the only files it may appear in. */
  private val allowed = Seq(
    ".foreachBatch" -> Set("StreamRunner.scala"),
    "Trigger.ProcessingTime" -> Set("StreamRunner.scala"),
    "StreamingQueryListener" -> Set("StreamRunner.scala"),
    // EventStream.runWindowedToParquet writes through the parquet sink
    ".writeStream" -> Set("StreamRunner.scala", "EventStream.scala"))

  test("streaming plumbing appears only in StreamRunner.scala") {
    val files = sources
    assert(files.exists(_._1 == "StreamRunner.scala"), s"no StreamRunner.scala under $dir")
    val stray = for {
      (token, ok) <- allowed
      (name, text) <- files
      if !ok(name) && text.contains(token)
    } yield s"$name uses $token"
    assert(stray.isEmpty, "start streaming queries through StreamRunner.start:\n" +
      stray.mkString("\n"))
  }
}
