package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (dev only): regex filter of query names, so a
    // single query's oracle loop doesn't rerun all of them.
    val nameFilter: String => Boolean =
      if (args.length > 2) args(2).r.pattern.asPredicate.test(_) else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Bucketed sortBy metadata -> scan outputOrdering (GraftSession's
      // note: every ScaleOps bucketed CTAS writes one file per bucket,
      // so persisted-state sort-merge probes skip the state-side Sort).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same durable-materializer configuration as Bench: IVF candidate
    // sets go through reliable checkpoint(), the cluster-safe default.
    val ckptDir = Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    // Derby's home (src_jdbc_roundtrip's embedded database writes its
    // log there) is a directory of this run's own, deleted with it.
    val derbyHome = Files.createTempDirectory("graft-derby").toFile
    System.setProperty("derby.system.home", derbyHome.toString)
    new java.io.File(outDir).mkdirs()
    // One output file keeps the driver-side DuckDB compare simple, but a
    // 1-task final stage serializes multi-10M-row results (the 10x-fixture
    // sweep's full contamination report) through one thread — so the
    // width is env-tunable for big-fixture runs; every reader downstream
    // (driver + tools/oracle_check*.py) globs <name>/*.parquet.
    val outFiles = sys.env.getOrElse("SPARK_GRAFT_VERIFY_FILES", "1").toInt
    SparkEntry.queries.filter(q => nameFilter(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(outFiles).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(q => nameFilter(q._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // AQE-final layout audit: the per-query REQUIREs assert the plan
    // BEFORE execution; the final-plan watch re-checked every executed
    // plan behind the async listener bus. Flush and report — loudly,
    // so a runtime re-plan that re-shuffled watched state on its own
    // bucket key cannot pass a silent run.
    org.apache.spark.sql.GraftShim.flushListenerBus(spark)
    val vio = graft.plans.PlanChecks.drainFinalPlanViolations()
    if (vio.nonEmpty)
      System.err.println(s"[verify] FINAL-PLAN LAYOUT VIOLATIONS: " +
        vio.map(v => s"${v.what} (${v.fragment})").distinct.mkString("; "))
    spark.stop()
    graft.ops.ScaleOps.deleteLocal(ckptDir)
    graft.ops.ScaleOps.deleteLocal(derbyHome)
  }
}
