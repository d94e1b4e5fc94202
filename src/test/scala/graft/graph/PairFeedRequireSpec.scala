package graft.graph

import java.nio.file.Files
import graft.SparkSpec
import graft.ops.PersistedState
import graft.queries.Build

/** Every member that probes a persisted key state checks the probe's
  * layout itself (graft.dedup.StateProbe): the state must enter the
  * probe join as a bucketed scan with no exchange below the join. Per
  * row, the member's state carries its freshness properties but was
  * rewritten WITHOUT bucketing, so the member's own build accepts it
  * as current; the member must then fail with
  * `<label> did not plan a bucketed scan` instead of letting the probe
  * re-shuffle the state silently.
  *
  * The shared pair feed (dd_incremental_clusters,
  * pg_incremental_pagerank, pg_incremental_triangles) is built once per
  * source generation by whichever family member runs first, so its
  * REQUIRE runs inside the feed builder on every call: the PageRank row
  * covers it.
  *
  * End to end on purpose, over a copy of the in-repo sf0.01 fixture in a
  * fresh directory: a never-seen source tag means no state or memo of
  * this session is reused. */
class PairFeedRequireSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val fixture = "perfbench/data/sf0.01"

  private lazy val dir: String = {
    val root = SparkSpec.tempDir("graft-pairfeed")
    Files.list(java.nio.file.Paths.get(fixture)).forEach { f =>
      Files.copy(f, root.resolve(f.getFileName)); ()
    }
    root.toString
  }

  /** (test name, member, its state, REQUIRE label) */
  private val members: Seq[(String, String, PersistedState, String)] = Seq(
    ("dd_incremental_neardup fails on an unbucketed LSH state",
      "dd_incremental_neardup", PersistedState.LshState, "LSH state"),
    ("dd_incremental_simhash fails on an unbucketed SimHash state",
      "dd_incremental_simhash", PersistedState.SimhashState, "SimHash state"),
    ("dd_incremental_cosine fails on an unbucketed cosine state",
      "dd_incremental_cosine", PersistedState.CosineState, "cosine LSH state"),
    ("dd_incremental_contamination fails on an unbucketed shingle index",
      "dd_incremental_contamination", PersistedState.ContamState,
      "test-suite shingle index"),
    ("pair-feed REQUIREs fire when pg_incremental_pagerank builds the feed first",
      "pg_incremental_pagerank", PersistedState.LshState, "LSH state"),
    ("er_incremental_clusters fails on an unbucketed ER key state",
      "er_incremental_clusters", PersistedState.ErKeys, "ER key state"),
    ("er_incremental_clusters_capped fails on an unbucketed ER key state",
      "er_incremental_clusters_capped", PersistedState.ErKeys, "ER key state"),
    ("er_incremental_survivorship fails on an unbucketed ER key state",
      "er_incremental_survivorship", PersistedState.ErKeys, "ER key state"),
    ("pipe_crawl_guarded fails on an unbucketed shingle index",
      "pipe_crawl_guarded", PersistedState.ContamState,
      "test-suite shingle index"),
    ("pipe_incremental_crawl fails on an unbucketed LSH state",
      "pipe_incremental_crawl", PersistedState.LshState, "LSH state"))

  members.foreach { case (name, member, state, label) =>
    test(name) {
      val d = dir
      // Build the member's declared states as the registry does, then
      // rewrite its key state without bucketing under the same graft.*
      // properties.
      Build.prepare(spark, d, graft.SparkEntry.registered.find(_.name == member).get.reads)
      val table = state.name(d)
      val props = spark.sql(s"SHOW TBLPROPERTIES `$table`").collect()
        .map(r => r.getString(0) -> r.getString(1))
        .filter(_._1.startsWith("graft."))
      val unbucketed = spark.table(table).localCheckpoint()
      spark.sql(s"DROP TABLE `$table`")
      unbucketed.write.saveAsTable(table)
      spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
      try {
        assert(spark.table(table).count() > 0)
        val e = intercept[IllegalArgumentException] {
          graft.SparkEntry.queries(member)(spark, d).count()
        }
        assert(e.getMessage.contains(s"$label did not plan a bucketed scan"), e.getMessage)
      } finally {
        // The next row's build rewrites the state bucketed.
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
      }
    }
  }

  // The copy's states and lineages: every catalog table and warehouse
  // entry tagged with it.
  override def afterAll(): Unit = {
    val tag = PersistedState.tagOf(dir)
    spark.catalog.listTables().collect()
      .filter(_.name.endsWith(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val wh = new java.io.File(PersistedState.warehouse(spark))
    Option(wh.listFiles()).toSeq.flatten.filter(_.getName.endsWith(tag))
      .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    super.afterAll()
  }
}
