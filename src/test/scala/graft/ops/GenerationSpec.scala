package graft.ops

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.functions.lit
import graft.{SparkSpec, Tables}

/** A source stored as a directory of part files is judged by
  * [[Generation]] like a single file: a part file rewritten in place
  * (new length and mtime, the directory's own `len:mtime` unchanged, as
  * on a POSIX filesystem) rebuilds every kind of persisted product, the
  * footer cache and [[CacheOnce]] miss, and [[StateGc]] keeps a live
  * generation over a directory and drops it once superseded. The
  * fixture is the benchmark's vendored sf0.01 drop with every table
  * written as a directory of two part files. */
class GenerationSpec extends SparkSpec {

  private lazy val root: Path = {
    val src = java.nio.file.Paths.get("perfbench/data/sf0.01")
    val dst = SparkSpec.tempDir("graft-gen-sf")
    Tables.all.foreach { t =>
      val file = src.resolve(s"$t.parquet").toString
      val df =
        if (t == "events") spark.read.schema(Tables.eventsRawSchema).parquet(file)
        else spark.read.parquet(file)
      df.repartition(2).write.parquet(dst.resolve(s"$t.parquet").toString)
    }
    dst
  }
  private def d: String = root.toString

  private def parts(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.toSeq.sortBy(_.getFileName.toString)
    } finally ls.close()
  }

  /** Rewrites one part file of `table` in place — the last one with one
    * row fewer, or the first one with an extra column — under a later
    * mtime, and puts the directory's mtime back. */
  private def rewrite(table: String, firstWithExtraColumn: Boolean = false): Unit = {
    val dir = root.resolve(s"$table.parquet")
    val ps = parts(dir)
    assert(ps.size >= 2, s"$dir holds ${ps.size} part files")
    val part = if (firstWithExtraColumn) ps.head else ps.last
    val dirTime = Files.getLastModifiedTime(dir)
    val partTime = Files.getLastModifiedTime(part).toMillis
    val rows = spark.read.parquet(part.toString)
    val out = SparkSpec.tempDir("graft-gen-rw").resolve("out")
    (if (firstWithExtraColumn) rows.withColumn("extra_col", lit(1))
     else rows.limit(rows.count().toInt - 1))
      .coalesce(1).write.parquet(out.toString)
    val written = parts(out).head
    Files.write(part, Files.readAllBytes(written))
    // The local Hadoop filesystem checks a part file against its sibling
    // checksum file, so that is rewritten in place too.
    val crc = (p: Path) => p.resolveSibling(s".${p.getFileName}.crc")
    Files.write(crc(part), Files.readAllBytes(crc(written)))
    Files.setLastModifiedTime(part, FileTime.fromMillis(partTime + 10000L))
    Files.setLastModifiedTime(dir, dirTime)
    assert(Files.getLastModifiedTime(dir) == dirTime)
  }

  test("a single file's generation is its len:mtime; a directory's is a " +
    "fixed-length digest that moves with a part file rewritten in place") {
    val f = java.nio.file.Paths.get("perfbench/data/sf0.01/nation.parquet").toFile
    assert(Generation.of(f.toString) == s"${f.length}:${f.lastModified}")
    val dir = s"$d/region.parquet"
    val before = Generation.of(dir)
    assert(before.matches("[0-9a-f]{64}"), before)
    assert(Generation.dataFiles(dir).size == 2)
    rewrite("region")
    assert(Generation.of(dir) != before)
  }

  test("every writer kind rebuilds after a part file of its directory " +
    "source is rewritten in place") {
    import PersistedState._
    // A frame lists its files when built: each build reads a new one.
    def events = Tables.events(spark, d).select("user_id", "event_type", "value")
    def erKeys() = ErKeys.bucketed(spark, d, Seq("c_custkey"))(
      Tables.customer(spark, d).select("c_custkey", "c_name"))._1
    def sorted() = EventsSorted.sorted(spark, d, "user_id", numFiles = 2)(events)
    def partitioned() = EventsPartitioned.partitioned(spark, d, "event_type")(events)
    def fragmented() = EventsFragmented.fragmented(spark, d, 3)(events)
    var staged = 0
    def stage(): Boolean = {
      val before = staged
      graft.streaming.LateArrivals.stageBatchesCached(spark, StageLateTally, d,
        ":spec")({ staged += 1; Seq(events.limit(3)) })
      staged > before
    }
    def emptied(): Option[String] = Generation.recorded(StFileSink.emptied(spark, d))
    val kinds = Seq[(String, () => Boolean)](
      "bucketed (er_keys)" -> (() => erKeys()),
      "sorted (s_events)" -> (() => sorted()),
      "partitioned (p_events)" -> (() => partitioned()),
      "fragmented (f_events)" -> (() => fragmented()),
      "staged replay (stage_late_tally)" -> (() => stage()))
    try {
      kinds.foreach { case (_, build) => build() }
      kinds.foreach { case (k, build) => assert(!build(), s"$k: a current product rebuilt") }
      val emptiedBefore = emptied()
      rewrite("events")
      rewrite("customer")
      val stale = kinds.collect { case (k, build) if !build() => k } ++
        (if (emptied() == emptiedBefore) Seq("emptied (st_file_sink)") else Nil)
      assert(stale.isEmpty, s"served stale after an in-place part rewrite: $stale")
      assert(sorted() == false && erKeys() == false, "a rebuilt product is current")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${ErKeys.name(d)}`")
      Seq(EventsSorted, EventsPartitioned, EventsFragmented, StageLateTally, StFileSink)
        .foreach(st => ScaleOps.deleteLocal(new java.io.File(st.path(spark, d))))
      Files.deleteIfExists(java.nio.file.Paths.get(StageLateTally.path(spark, d) + ".lock"))
    }
  }

  test("the footer cache and CacheOnce miss after a part file is rewritten in place") {
    val nation = s"$d/nation.parquet"
    assert(!Tables.parquet(spark, nation).columns.contains("extra_col"))
    rewrite("nation", firstWithExtraColumn = true)
    assert(Tables.parquet(spark, nation).columns.contains("extra_col"),
      "the footer cache served the old first file's schema")

    val supplier = s"$d/supplier.parquet"
    try {
      val before = CacheOnce.swapTruncated("spec-generation", Tables.parquet(spark, supplier))
      val n = before.count()
      rewrite("supplier")
      val after = CacheOnce.swapTruncated("spec-generation", Tables.parquet(spark, supplier))
      assert(!(after eq before), "CacheOnce served the old generation")
      assert(after.count() == n - 1)
    } finally CacheOnce.release("spec-generation")
  }

  test("StateGc keeps every live generation over a directory source and " +
    "drops the one a part rewrite superseded") {
    val wh = PersistedState.warehouse(spark)
    val overEvents = PersistedState("specgen_sorted", Seq("events.parquet"))
    val overCustomer = PersistedState("specgen_keys", Seq("customer.parquet"))
    def audit(dryRun: Boolean): Map[String, String] =
      StateGc.run(spark, wh, Seq(d), "graft_specgen_", dryRun).collect()
        .map(r => r.getString(0) -> r.getString(5)).toMap
        .filter(_._1.endsWith(PersistedState.tagOf(d)))
    try {
      overEvents.sorted(spark, d, "user_id")(Tables.events(spark, d).select("user_id"))
      overCustomer.bucketed(spark, d, Seq("c_custkey"))(
        Tables.customer(spark, d).select("c_custkey"))
      val live = audit(dryRun = false)
      assert(live == Map(overEvents.name(d) -> "keep", overCustomer.name(d) -> "keep"),
        s"live generations over a directory source: $live")
      rewrite("events")
      val after = audit(dryRun = false)
      assert(after == Map(overEvents.name(d) -> "drop", overCustomer.name(d) -> "keep"),
        s"after the rewrite: $after")
      assert(!new java.io.File(overEvents.path(spark, d)).exists())
      assert(spark.table(overCustomer.name(d)).count() > 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${overCustomer.name(d)}`")
      ScaleOps.deleteLocal(new java.io.File(overEvents.path(spark, d)))
    }
  }
}
