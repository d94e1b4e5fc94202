package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{JdbcFixture, Sinks, Sources}
import graft.Tables

/** Source round-trip queries that exercise a full read path end to end
  * (fixture write -> graft source read -> oracle over the same parquet
  * the fixture was loaded from). The GeoJSON round trip lives with the
  * spatial family; this file holds the database-backed ones. */
object SourceQueries {

  val defs: Seq[Q] = Seq(

    // S3: JDBC scan against an embedded Derby loaded from the nation
    // parquet — covers spark.read.jdbc with a range-partitioned parallel
    // read (4 partition queries on N_NATIONKEY) and a pushed-down WHERE
    // (asserted against the plan in JdbcSourceSpec). The oracle reads
    // the same rows straight from the parquet the fixture came from.
    Q("src_jdbc_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey < 3") { (s, d) =>
      val url = JdbcFixture.loadNation(s, d)
      Sources.jdbc(s, url, "NATION", props = JdbcFixture.props,
        partitioning = Some(("N_NATIONKEY", 0L, 25L, 4)))
        .filter(col("N_REGIONKEY") < 3)
        .select(col("N_NATIONKEY").as("n_nationkey"),
          col("N_NAME").as("n_name"),
          col("N_REGIONKEY").as("n_regionkey"))
    },

    // S3 on the DSv2 catalog path: the V1 jdbc scan above pushes only
    // the WHERE; the V2 catalog scan pushes the whole AGGREGATE — the
    // database computes one row per group and ships THAT, not the
    // table (at a remote warehouse dimension store, a metadata query
    // instead of an export). The require fails the query — not just a
    // spec — if the pushed aggregate/group-by leave the plan.
    Q("src_jdbc_agg_pushdown",
      "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n, " +
        "max(n_nationkey) AS max_key FROM nation GROUP BY 1") { (s, d) =>
      val url = JdbcFixture.loadNation(s, d)
      val agg = Sources.jdbcCatalogTable(s, "graftjdbc", url,
        JdbcFixture.driver, "APP.NATION")
        .groupBy(col("N_REGIONKEY"))
        .agg(count(lit(1)).as("n"), max(col("N_NATIONKEY")).as("max_key"))
      val plan = agg.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregates:") &&
        plan.contains("PushedGroupByExpressions:"),
        "JDBC aggregate pushdown regressed — the group-by would ship the table")
      agg.select(col("N_REGIONKEY").cast("int").as("n_regionkey"),
        col("n"), col("max_key").cast("int").as("max_key"))
    },

    // K1 + S6/S7 closed as an oracle round trip: the header-CSV sink's
    // product read back through the CSV source (explicit schema — no
    // inference pass) must equal the original dimension table.
    Q("src_csv_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, d) =>
      val path = s"${rtDir(s, d)}/nation_csv"
      Sinks.writeCsv(Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey"), path)
      Sources.csv(s, path, Some(StructType.fromDDL(
        "n_nationkey INT, n_name STRING, n_regionkey INT")))
    },

    // S2's staging half closed as an oracle round trip: the CSV product
    // zipped (standing in for the reference's downloaded archive,
    // ningaloo-etl.Rmd:47-53), extracted through Sources.stageZip, and
    // the staged file read back — byte-identical data or the hash check
    // fails.
    Q("src_zip_staging",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, d) =>
      val base = rtDir(s, d)
      val csvDir = s"$base/nation_zip_src"
      Sinks.writeCsv(Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey"), csvDir)
      // Listing + read go through the Hadoop FileSystem API with the
      // session's conf (the repo-wide convention), even though this
      // staging dir is always local tmp in practice.
      val fs = new org.apache.hadoop.fs.Path(csvDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(csvDir))
        .map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
        .minBy(_.getName)
      val partBytes = {
        val in = fs.open(part)
        try in.readAllBytes() finally in.close()
      }
      val zipPath = s"$base/nation.zip"
      val zout = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(zipPath))
      try {
        zout.putNextEntry(new java.util.zip.ZipEntry("snapshot/nation.csv"))
        zout.write(partBytes)
        zout.closeEntry()
      } finally zout.close()
      val staged = Sources.stageZip(zipPath, s"$base/staging")
        .find(_.endsWith("nation.csv")).get
      Sources.csv(s, staged, Some(StructType.fromDDL(
        "n_nationkey INT, n_name STRING, n_regionkey INT")))
    },

    // ORC round trip: the OTHER columnar format the engine speaks
    // natively (Spark's built-in orc source — footer stats, predicate
    // pushdown, same scan machinery as parquet). The oracle reads the
    // same rows straight from the parquet the fixture came from, so a
    // type or value drift through the ORC writer/reader pair fails the
    // hash.
    Q("src_orc_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, d) =>
      val path = s"${rtDir(s, d)}/nation_orc"
      Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
    },

    // JSON-lines round trip: the interchange format crawl pipelines
    // actually exchange (one JSON object per line, splittable,
    // appendable). Explicit schema on read — no inference pass over a
    // large corpus, and no silent type widening.
    // JSON-lines read on the custom DSv2 source (graft-jsonl) instead
    // of plain spark.read.json — the feed-ingest shape the reference's
    // GFT/WAStD HTTP pipelines imply at scale, with real column-pruning
    // pushdown (explicit schema, no inference pass). Hash-identical to
    // the plain-reader registration it replaces.
    Q("src_jsonl_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, d) =>
      val path = s"${rtDir(s, d)}/nation_jsonl"
      Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").json(path)
      s.read.format("graft-jsonl").schema(StructType.fromDDL(
        "n_nationkey INT, n_name STRING, n_regionkey INT")).load(path)
    },

    // The pushdown half of the JSONL source: a selective predicate must
    // reach the source (PushedFilters REQUIREd from the executed plan)
    // and be evaluated on the parsed line BEFORE any row is built, and
    // the projection must prune the read schema to the referenced
    // columns — the two properties that make a feed source usable at
    // corpus scale rather than a parse-everything convenience.
    Q("src_jsonl_pushdown",
      "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey >= 2 " +
        "AND n_nationkey < 20") { (s, d) =>
      val path = s"${rtDir(s, d)}/nation_jsonl_pd"
      Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").json(path)
      val out = s.read.format("graft-jsonl").schema(StructType.fromDDL(
          "n_nationkey INT, n_name STRING, n_regionkey INT")).load(path)
        .filter(col("n_regionkey") >= 2 && col("n_nationkey") < 20)
        .select("n_nationkey", "n_name")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("graft-jsonl") &&
        plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
        s"JSONL filter pushdown regressed — the source would parse-and-ship every row:\n$plan")
      require(plan.contains("ReadSchema: struct<n_nationkey:int,n_name:string"),
        s"JSONL column pruning regressed — the scan materializes unused fields:\n$plan")
      out
    },

    // Parquet schema EVOLUTION: a v1 snapshot (two columns) and a v2
    // snapshot that grew n_regionkey, read as ONE dataset via
    // mergeSchema — the append-only corpus reality: yesterday's files
    // never get rewritten when today's schema adds a column. v1 rows
    // surface null for the new column; the oracle re-derives both
    // snapshots from the nation table with the same even/odd split.
    Q("src_schema_evolution",
      "SELECT n_nationkey, n_name, CAST(NULL AS INT) AS n_regionkey " +
        "FROM nation WHERE n_nationkey % 2 = 0 " +
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_nationkey % 2 = 1") { (s, d) =>
      val base = rtDir(s, d)
      val v1 = s"$base/nation_v1"
      val v2 = s"$base/nation_v2"
      Tables.nation(s, d).filter(col("n_nationkey") % 2 === 0)
        .select("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(v1)
      Tables.nation(s, d).filter(col("n_nationkey") % 2 === 1)
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(v2)
      s.read.option("mergeSchema", "true").parquet(v1, v2)
        .select("n_nationkey", "n_name", "n_regionkey")
    })

  /** The nation round trips' directory, under the warehouse as a
    * [[graft.ops.PersistedState.SourceRoundTrips]] generation (emptied
    * when nation.parquet rolls); each query overwrites its own
    * subdirectory on every call. */
  private def rtDir(s: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    val rt = graft.ops.PersistedState.SourceRoundTrips
    val base = rt.path(s, sfDir)
    graft.ops.Generation.resetIfStale(base, rt.fingerprint(sfDir))
    base
  }
}
