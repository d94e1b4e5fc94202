package graft.graph

import graft.SparkSpec

/** Regression pin for the fresh-warehouse cache poison: pageRank()
  * persists the BARE edge-table scan for its supersteps while
  * preparePageRankState builds the rank state, and a persisted bare
  * scan left in the CacheManager substitutes an InMemoryRelation —
  * which forgets the table's bucketing — into every later plan reading
  * that table, so the triangle probe's exchange-free REQUIRE fails.
  * Invisible in any warm-warehouse session (built = false, pageRank
  * never runs), which is exactly how it escaped five green rounds: the
  * suite and the dev box reused built state, while every fresh
  * container (the driver's) builds + probes in one session. The fix
  * releases the build-scoped entries when the rank layout was written
  * by this call (CorpusQueries.preparePageRankState).
  *
  * End-to-end on purpose: a COPIED documents.parquet (the in-repo
  * sf0.01 fixture's) gets a never-seen-before state tag and source
  * fingerprint, so the state family always builds fresh inside this
  * very session before the registered query's own
  * requireExchangeFreeBucketedProbe runs. */
class FreshStateProbeSpec extends SparkSpec {

  test("fresh-built graph state + probe in ONE session stays exchange-free") {
    val src = new java.io.File("perfbench/data/sf0.01/documents.parquet")
    val d = SparkSpec.tempDir("graft-fresh-tri")
    java.nio.file.Files.copy(src.toPath, d.resolve("documents.parquet"))
    try {
      // The Q body REQUIREs the executed probe plan exchange-free on the
      // state side — with the poison present this throws, count() never
      // runs. rows >= 0 keeps the action (and the AQE-final watch) real.
      val out = graft.SparkEntry.queries("pg_incremental_triangles")(
        spark, d.toString)
      assert(out.count() >= 0)
    } finally {
      val tag = d.toString.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
      spark.catalog.listTables().collect()
        .filter(_.name.endsWith(tag))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    }
  }
}
