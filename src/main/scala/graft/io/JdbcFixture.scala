package graft.io

import java.sql.{DriverManager, SQLException}

import org.apache.spark.sql.SparkSession

import graft.Tables

/** In-process Derby database backing the S3 (JDBC scan) correctness
  * query — the sandbox stand-in for the reference's ODBC `select *`
  * pulls out of WAMTRAM (tagging-etl.Rmd:63-66). Derby ships on the
  * Spark classpath (the Hive metastore's store), so an embedded
  * in-memory DB exercises the REAL `spark.read.jdbc` path — driver
  * registration, dialect mapping, predicate pushdown, range-partitioned
  * parallel reads — with zero new dependencies.
  */
object JdbcFixture {

  val url = "jdbc:derby:memory:graftjdbc;create=true"
  val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  def props: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", driver)
    p
  }

  /** (Re)loads the NATION fixture from the sfDir parquet into Derby and
    * returns the JDBC url. Idempotent per JVM (drop + recreate);
    * `synchronized` so parallel test suites don't race the DDL. The
    * collect is 25 dimension rows — fixture loading, not a data path. */
  def loadNation(spark: SparkSession, sfDir: String): String = synchronized {
    // Keep Derby's log chatter out of the working directory: in Derby's
    // own home when one is set, else under java.io.tmpdir.
    System.setProperty("derby.stream.error.file", s"${System.getProperty(
      "derby.system.home", System.getProperty("java.io.tmpdir"))}/graft-derby.log")
    val rows = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey").collect()
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE NATION")
      catch { case _: SQLException => () } // first load: no table yet
      st.execute(
        "CREATE TABLE NATION (N_NATIONKEY INT, N_NAME VARCHAR(64), N_REGIONKEY INT)")
      val ps = conn.prepareStatement("INSERT INTO NATION VALUES (?, ?, ?)")
      rows.foreach { r =>
        ps.setInt(1, r.getInt(0)); ps.setString(2, r.getString(1))
        ps.setInt(3, r.getInt(2)); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
    url
  }
}
