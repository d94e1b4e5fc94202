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

  private def mainLines: List[(java.nio.file.Path, String, Int)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f,
        java.nio.charset.StandardCharsets.ISO_8859_1).asScala.toList.zipWithIndex
    } yield (f, line, i + 1)
  }

  test("the tag rule and the warehouse lookup appear only in PersistedState") {
    val offending = for {
      (f, line, n) <- mainLines
      if f.getFileName.toString != "PersistedState.scala"
      if forbidden.exists(line.contains)
    } yield s"$f:$n: ${line.trim}"
    assert(offending.isEmpty,
      "state names and warehouse paths must go through PersistedState:\n" +
        offending.mkString("\n"))
  }

  /** A derived cap is published with its state as `graft.stat`
    * (`PersistedState.bucketed` with a `KeyCap`, read by
    * `PersistedState.stat`): a cap written as a layout of its own, a
    * `*Cap` family or the parquet read-back would be a second publish
    * point that can drift from its state. A literal shuffle-partition
    * count under `queries/` assumes a bucket count the session decides. */
  private val capForbidden = Seq(
    "a cap layout keyed on derived_cap" -> """\.sorted\([^)]*"derived_cap"""".r,
    "readStatLong" -> """\breadStatLong\b""".r,
    "a *Cap family" -> """\b[A-Z][A-Za-z]*Cap\s*=\s*PersistedState\(|PersistedState\("[a-z_]*cap"|\b[A-Z][A-Za-z]*Cap\.(sorted|readLong|read|path|name|fingerprint|bucketed|stat)\b""".r)
  private val literalPartitions =
    """"spark\.sql\.shuffle\.partitions"\s*,\s*"?\d""".r

  test("derived caps are published only with their state; no literal shuffle " +
    "partition count under queries/") {
    val offending = for {
      (f, line, n) <- mainLines
      why <- capForbidden.collect { case (w, re) if re.findFirstIn(line).nonEmpty => w } ++
        (if (f.toString.contains("/queries/") &&
          literalPartitions.findFirstIn(line).nonEmpty) Seq("a literal partition count")
        else Nil)
    } yield s"$f:$n: $why: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  /** A persisted key state is probed only through
    * `graft.dedup.StateProbe`, which caps its keys, joins it
    * exchange-free and REQUIREs and watches that layout: a cap, a
    * caller-supplied probe check or a key-state REQUIRE written anywhere
    * else is a probe that can leave its layout check out. Exempt: the
    * graph edge-state checks of pg_incremental_pagerank and
    * pg_incremental_triangles (CorpusQueries), which REQUIRE their
    * bucketed edge and pair states, not a key state. */
  private val probeForbidden = Seq(
    "capBuckets(" -> """\bcapBuckets\(""".r,
    "a probeCheck parameter" -> """\bprobeCheck\s*[:=]""".r)
  private val edgeStateRequires = Set(
    "CorpusQueries.scala" -> "PageRank edge/LSH state",
    "CorpusQueries.scala" -> "triangle edge/pair/LSH state")
  private val requireCall = "requireExchangeFreeBucketedProbe("

  test("key states are capped, probed and checked only in StateProbe") {
    val code = mainLines.filterNot { case (_, line, _) =>
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/**")
    }
    val byFile = code.groupBy(_._1)
    val offending = for {
      (f, line, n) <- code
      if f.getFileName.toString != "StateProbe.scala"
      why <- probeForbidden.collect { case (w, re) if re.findFirstIn(line).nonEmpty => w } ++ {
        if (!line.contains(requireCall) || line.contains("def " + requireCall)) Nil
        else {
          // The label is the call's first string literal (on this line
          // or the next two).
          val call = byFile(f).dropWhile(_._3 < n).take(3).map(_._2).mkString(" ")
          val label = "\"([^\"]*)\"".r.findFirstMatchIn(call.drop(call.indexOf(requireCall)))
            .map(_.group(1)).getOrElse("")
          if (edgeStateRequires((f.getFileName.toString, label))) Nil
          else Seq(s"a key-state REQUIRE ($label)")
        }
      }
    } yield s"$f:$n: $why: ${line.trim}"
    assert(offending.isEmpty,
      "probe key states through graft.dedup.StateProbe:\n" + offending.mkString("\n"))
  }

  /** A memo is keyed by the files its plan reads (`graft.ops.CacheOnce`):
    * a hand-passed source fingerprint, a `memoTag` parameter or a
    * hand-rolled LRU is a second key rule that misses a rebuilt state
    * whose source file did not change. */
  private val familyDirs = Seq("/queries/", "/dedup/", "/graph/", "/similarity/")
  private val memoForbidden = Seq(
    "a fingerprint tag under a query family" -> ((f: java.nio.file.Path, line: String) =>
      familyDirs.exists(f.toString.contains) && line.contains("Generation.of(")),
    "a memoTag" -> ((_: java.nio.file.Path, line: String) =>
      """\bmemoTag\b""".r.findFirstIn(line).nonEmpty),
    "a hand-rolled LRU" -> ((f: java.nio.file.Path, line: String) =>
      f.getFileName.toString != "CacheOnce.scala" && line.contains("removeEldestEntry")))

  test("memos are keyed only by CacheOnce: no fingerprint tag, memoTag or LRU") {
    val offending = for {
      (f, line, n) <- mainLines
      why <- memoForbidden.collect { case (w, hit) if hit(f, line) => w }
    } yield s"$f:$n: $why: ${line.trim}"
    assert(offending.isEmpty,
      "key memos through graft.ops.CacheOnce:\n" + offending.mkString("\n"))
  }

  /** Whether a source or a product is current is decided in one place,
    * `graft.ops.Generation`: the `_GRAFT_SRC` marker's reads and
    * writes, every file's mtime, and which files of a directory are
    * data. A second copy drifts (a directory source judged by its own
    * `len:mtime` serves stale state; a data filter that differs from
    * Spark's counts files Spark does not read). Comment lines are not
    * code; `Bench.scala`, which the benchmark times as it stands, is
    * exempt. */
  private val generationForbidden = Seq(
    "the _GRAFT_SRC marker" -> """_GRAFT_SRC""".r,
    "a file's mtime" -> """\bgetModificationTime\b""".r,
    "a data-file filter" -> """startsWith\("_"\)|endsWith\("\.parquet"\)""".r)

  test("generations are decided only in Generation") {
    val offending = for {
      (f, line, n) <- mainLines
      if !Set("Generation.scala", "Bench.scala")(f.getFileName.toString)
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/**"))
      why <- generationForbidden.collect { case (w, re) if re.findFirstIn(line).nonEmpty => w }
    } yield s"$f:$n: $why: ${line.trim}"
    assert(offending.isEmpty,
      "decide generations through graft.ops.Generation:\n" + offending.mkString("\n"))
  }
}
