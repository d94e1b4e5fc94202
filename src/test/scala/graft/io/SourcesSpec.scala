package graft.io

import graft.SparkSpec
import java.nio.file.Files
import java.sql.DriverManager
import java.util.zip.{ZipEntry, ZipOutputStream}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv source round-trips a written product (S6/S7 + K1)") {
    val dir = SparkSpec.tempDir("graft_src_csv").toString
    Sinks.writeCsv(Seq((1, "a"), (2, "b")).toDF("id", "v"), s"$dir/p")
    val back = Sources.csv(spark, s"$dir/p")
    assert(rows(back.orderBy("id")) == Seq(Seq(1, "a"), Seq(2, "b")))
  }

  test("jdbc source reads an embedded Derby table, plain and partitioned (S3)") {
    val dbDir = SparkSpec.tempDir("graft_derby").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val con = DriverManager.getConnection(url)
    con.createStatement().execute(
      "CREATE TABLE obs (id INT PRIMARY KEY, species VARCHAR(20), n INT)")
    val ins = con.prepareStatement("INSERT INTO obs VALUES (?, ?, ?)")
    for (i <- 1 to 20) {
      ins.setInt(1, i); ins.setString(2, if (i % 2 == 0) "green" else "loggerhead")
      ins.setInt(3, i * 10); ins.addBatch()
    }
    ins.executeBatch(); con.close()

    val plain = Sources.jdbc(spark, url, "obs")
    assert(plain.count() == 20)
    val part = Sources.jdbc(spark, url, "obs",
      partitioning = Some(("id", 1L, 20L, 4)))
    assert(part.rdd.getNumPartitions == 4)
    assert(part.filter($"species" === "green").count() == 10)

    // Pushdown is the point of the JDBC reader (the reference pulls
    // whole tables client-side, tagging-etl.Rmd:64-66): the filter must
    // reach the database as a pushed predicate and the projection must
    // prune the scan to the selected column, not `SELECT *`.
    val pruned = plain.filter($"species" === "green").select($"id")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    val desc = scan.toString
    assert(desc.contains("PushedFilters") && desc.toLowerCase.contains("species"),
      s"filter not pushed to JDBC scan: $desc")
    assert(scan.output.map(_.name.toLowerCase) == Seq("id"),
      s"JDBC scan not column-pruned: ${scan.output}")
  }

  test("stageZip extracts entries and rejects path escapes (S2)") {
    val tmp = SparkSpec.tempDir("graft_zip")
    val zipPath = tmp.resolve("snap.zip").toString
    val zout = new ZipOutputStream(new java.io.FileOutputStream(zipPath))
    zout.putNextEntry(new ZipEntry("data/part.csv"))
    zout.write("id,v\n1,a\n2,b\n".getBytes("UTF-8"))
    zout.closeEntry(); zout.close()

    val staged = Sources.stageZip(zipPath, tmp.resolve("staging").toString)
    assert(staged.size == 1 && staged.head.endsWith("part.csv"))
    val df = Sources.csv(spark, staged.head)
    assert(df.count() == 2)

    val evil = tmp.resolve("evil.zip").toString
    val z2 = new ZipOutputStream(new java.io.FileOutputStream(evil))
    z2.putNextEntry(new ZipEntry("../escape.txt")); z2.write("x".getBytes); z2.closeEntry(); z2.close()
    intercept[IllegalArgumentException](
      Sources.stageZip(evil, tmp.resolve("staging2").toString))
  }
}
