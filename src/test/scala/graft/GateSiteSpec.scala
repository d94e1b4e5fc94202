package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every stream gate's session, source and sink are decided in one
  * place, [[graft.streaming.Gate]]: a second stream builder under
  * `graft.streaming` restates a decision that then drifts (a session
  * without the stream conf, a drain without AvailableNow, a memory sink
  * that a lineage change would miss). The checkpoint I/O knobs are
  * decided by the checkpoint path alone, so no environment variable may
  * set them. This spec scans the sources and fails on either. */
class GateSiteSpec extends AnyFunSuite {

  private def scalaFiles(root: java.nio.file.Path): List[java.nio.file.Path] = {
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def offending(files: List[java.nio.file.Path],
                        forbidden: Seq[String]): List[String] = {
    import scala.jdk.CollectionConverters._
    for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f,
        java.nio.charset.StandardCharsets.ISO_8859_1).asScala.toList.zipWithIndex
      if forbidden.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  test("stream sessions, sources and sinks are built only in Gate") {
    val files = scalaFiles(java.nio.file.Paths.get("src/main/scala/graft/streaming"))
      .filter(_.getFileName.toString != "Gate.scala")
    val bad = offending(files, Seq("readStream", "writeStream", "format(\"memory\")",
      "Trigger.AvailableNow", "newSession()"))
    assert(bad.isEmpty,
      "stream sessions, sources and sinks must go through Gate:\n" + bad.mkString("\n"))
  }

  test("no SPARK_GRAFT_CKPT environment knob in src/main") {
    val bad = offending(scalaFiles(java.nio.file.Paths.get("src/main/scala")),
      Seq("SPARK_GRAFT_CKPT"))
    assert(bad.isEmpty, "checkpoint I/O is decided by the path:\n" + bad.mkString("\n"))
  }
}
