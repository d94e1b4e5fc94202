package graft.graph

import graft.SparkSpec
import graft.queries.CorpusQueries

/** The shared incremental pair feed (dd_incremental_clusters,
  * pg_incremental_pagerank, pg_incremental_triangles) is built once per
  * source generation by whichever family member runs first, so its
  * layout REQUIREs must run inside the feed builder, not in one
  * member's body. Here the LSH band state carries its freshness
  * properties but was written WITHOUT bucketing, and PageRank is the
  * first member to run in the session: the exchange-free probe REQUIRE
  * must fail the query instead of letting the probe re-shuffle the
  * state silently.
  *
  * End to end on purpose, over a synthetic corpus written to a fresh
  * directory: a never-seen source fingerprint means no memo of the
  * feed exists yet in this session. */
class PairFeedRequireSpec extends SparkSpec {
  import spark.implicits._

  test("pair-feed REQUIREs fire when pg_incremental_pagerank builds the feed first") {
    val d = java.nio.file.Files.createTempDirectory("graft-pairfeed")
    val tag = d.toString.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
    try {
      // 15 groups of 4 near-duplicates (30 shared words, one distinct
      // tail word each), spread over every doc_id % 3 class, written as
      // ONE parquet file so the source fingerprint is its own.
      val docs = (0 until 60).map { i =>
        (i.toLong, (1 to 30).map(w => s"g${i / 4}w$w").mkString(" ") + s" tail$i")
      }.toDF("doc_id", "text")
      val stage = d.resolve("stage").toString
      docs.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, d.resolve("documents.parquet"))
      val dir = d.toString

      // Build the state as the registry does, then rewrite it without
      // bucketing under the same freshness properties, so the query's
      // own prepareLshState accepts it as current.
      CorpusQueries.prepareLshState(spark, dir)
      val table = graft.ops.PersistedState.LshState.name(dir)
      val props = spark.sql(s"SHOW TBLPROPERTIES `$table`").collect()
        .map(r => r.getString(0) -> r.getString(1))
        .filter(_._1.startsWith("graft."))
      val bands = spark.table(table).localCheckpoint()
      spark.sql(s"DROP TABLE `$table`")
      bands.write.saveAsTable(table)
      spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
      assert(spark.table(table).count() > 0)

      val e = intercept[IllegalArgumentException] {
        graft.SparkEntry.queries("pg_incremental_pagerank")(spark, dir).count()
      }
      assert(e.getMessage.contains("LSH state did not plan a bucketed scan"), e.getMessage)
    } finally {
      spark.catalog.listTables().collect()
        .filter(_.name.endsWith(tag))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      val wh = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      Option(wh.listFiles()).toSeq.flatten.filter(_.getName.endsWith(tag))
        .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    }
  }
}
