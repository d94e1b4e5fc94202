package graft

import graft.ops.ScaleOps
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/** [[Tables.parquet]] resolves the schema from the first data file's
  * footer on the driver instead of Spark's one-task inference job. These
  * specs pin that it is the schema Spark would infer (fixture tables and
  * the engine's own persisted layouts), that an in-place rewrite
  * re-resolves it, that the cases kept on Spark's inferring read fail the
  * same way, and that a table load runs no Spark job. */
class TablesSchemaSpec extends SparkSpec {
  private val sf = "perfbench/data/sf0.01"

  private def tmpDir(tag: String): java.io.File =
    SparkSpec.tempDir(s"graft-tables-$tag").toFile

  private def shape(d: DataFrame) =
    d.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))

  private def assertSameAsInferred(path: String): Unit = {
    val ours = Tables.parquet(spark, path)
    val inferred = spark.read.parquet(path)
    assert(ours.schema == inferred.schema, s"schema differs at $path")
    assert(shape(ours) == shape(inferred), s"analyzed output differs at $path")
  }

  test("footer-resolved schema == inferred schema: fixture tables and " +
    "persisted layouts") {
    Tables.all.foreach(t => assertSameAsInferred(s"$sf/$t.parquet"))
    val root = tmpDir("layouts")
    try {
      // A partitioned tree: partition columns come from the directory
      // names, the data columns from the nested footer.
      val tree = new java.io.File(root, "by_type").toString
      ScaleOps.ensurePartitioned(spark, tree, "event_type")(Tables.events(spark, sf))
      assertSameAsInferred(tree)
      // A bucketed-state stage directory, written as ensureBucketedDerived
      // stages it, and the derived table built through the real path.
      val state = Tables.documents(spark, sf)
        .selectExpr("doc_id AS k", "length(text) AS len", "text")
      val stage = new java.io.File(root, "b_schema_state__stage").toString
      state.write.mode("overwrite").parquet(stage)
      assertSameAsInferred(stage)
      val t = "b_schema_state"
      try {
        val (built, _) = ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A")(state)
        assert(built)
        assert(spark.table(t).schema.map(f => (f.name, f.dataType)) ==
          state.schema.map(f => (f.name, f.dataType)))
      } finally spark.sql(s"DROP TABLE IF EXISTS $t")
      // A 1-row stat checkpoint (the derived probe caps).
      val stat = new java.io.File(root, "cap").toString
      spark.range(1).select(lit(42L).as("cap")).coalesce(1)
        .write.mode("overwrite").parquet(stat)
      assertSameAsInferred(stat)
      assert(ScaleOps.readStatLong(spark, stat, "fp-schema-spec") == 42L)
    } finally ScaleOps.deleteLocal(root)
  }

  test("rewriting a directory in place re-resolves the schema") {
    val root = tmpDir("rewrite")
    try {
      val dir = new java.io.File(root, "state").toString
      spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(dir)
      assert(Tables.parquet(spark, dir).columns.toSeq == Seq("a"))
      spark.range(3).selectExpr("CAST(id AS STRING) AS b", "id * 0.5 AS c")
        .write.mode("overwrite").parquet(dir)
      assertSameAsInferred(dir)
      assert(Tables.parquet(spark, dir).columns.toSeq == Seq("b", "c"))
      assert(Tables.parquet(spark, dir).count() == 3)
    } finally ScaleOps.deleteLocal(root)
  }

  test("missing path and empty directory fail like spark.read.parquet") {
    val root = tmpDir("empty")
    try {
      val empty = new java.io.File(root, "empty")
      empty.mkdirs()
      // A crashed first write: only hidden entries, no data file.
      val crashed = new java.io.File(root, "crashed")
      new java.io.File(crashed, "_temporary/0").mkdirs()
      new java.io.File(crashed, "_SUCCESS").createNewFile()
      Seq(new java.io.File(root, "missing"), empty, crashed).foreach { f =>
        val path = f.toString
        val theirs = intercept[Exception](spark.read.parquet(path))
        val ours = intercept[Exception](Tables.parquet(spark, path))
        assert(ours.getClass == theirs.getClass, s"at $path")
        assert(ours.getMessage == theirs.getMessage, s"at $path")
      }
    } finally ScaleOps.deleteLocal(root)
  }

  test("Tables.load resolves every fixture table without a Spark job") {
    // A copy at a path this JVM has not read, so nothing is cached.
    val copy = tmpDir("copy")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    try {
      Tables.all.foreach { t =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(sf, s"$t.parquet"),
          copy.toPath.resolve(s"$t.parquet"))
      }
      GraftShim.flushListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      Tables.all.foreach(t => Tables.load(spark, copy.toString, t).queryExecution.analyzed)
      GraftShim.flushListenerBus(spark)
      assert(jobs.get() == 0, s"${jobs.get()} Spark job(s) ran to load the tables")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      ScaleOps.deleteLocal(copy)
    }
  }
}
