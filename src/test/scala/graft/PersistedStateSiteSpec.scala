package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persisted-state names and warehouse paths are decided in one place,
  * [[graft.ops.PersistedState]]: its tag rule and its warehouse lookup.
  * A second copy of either drifts (a state named by another rule is
  * invisible to `StateGc`'s keep rule), so this spec scans `src/main`
  * and fails on either appearing anywhere else. */
class PersistedStateSiteSpec extends AnyFunSuite {

  private val forbidden = Seq(
    "replaceAll(\"[^A-Za-z0-9]+\", \"_\")",
    "conf.get(\"spark.sql.warehouse.dir\")")

  test("the tag rule and the warehouse lookup appear only in PersistedState") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offending = for {
      f <- files
      if f.getFileName.toString != "PersistedState.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f,
        java.nio.charset.StandardCharsets.ISO_8859_1).asScala.zipWithIndex
      if forbidden.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty,
      "state names and warehouse paths must go through PersistedState:\n" +
        offending.mkString("\n"))
  }
}
