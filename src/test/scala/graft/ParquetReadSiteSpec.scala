package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every single-path parquet read in `src/main` goes through
  * [[Tables.parquet]], which resolves the schema from the footer on the
  * driver; a bare `read.parquet(path)` pays Spark's one-task schema
  * inference job on every call. This spec scans the sources, so a new
  * bare read fails here instead of slowing every query that runs it. */
class ParquetReadSiteSpec extends AnyFunSuite {

  /** Files whose multi-path (`paths: _*`) reads stay on Spark's reader:
    * a schema from one footer does not speak for a list of paths. */
  private val multiPathReaders = Map(
    "ScaleOps.scala" -> "ensureSurgicalDelete reads the touched files",
    "CompactedLanding.scala" -> "compaction reads the covered and tail files")

  test("read.parquet( appears in src/main only in Tables and the named exceptions") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offending = for {
      f <- files
      name = f.getFileName.toString
      if name != "Tables.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f,
        java.nio.charset.StandardCharsets.ISO_8859_1).asScala.zipWithIndex
      if line.contains("read.parquet(")
      if !(multiPathReaders.contains(name) && line.contains(": _*)"))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty,
      "single-path parquet reads must go through Tables.parquet:\n" +
        offending.mkString("\n"))
  }
}
