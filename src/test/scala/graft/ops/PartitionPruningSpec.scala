package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import java.nio.file.Files

/** The partition-pruning layout claim, asserted on the EXECUTED metric:
  * a one-partition filter over an N-partition tree must read one
  * directory's files, not N. (sc2_partition_pruning REQUIREs the
  * partition filter in-plan; this pins what actually got read.) */
class PartitionPruningSpec extends SparkSpec {

  test("one-day filter reads exactly one partition's files") {
    val d = df("id BIGINT, v DOUBLE, event_date DATE")(
      (1 to 30).map(i => Row(i.toLong, i * 1.5,
        java.sql.Date.valueOf(f"2024-01-${i % 3 + 1}%02d"))))
    val path = SparkSpec.tempDir("graft-prune").toString + "/events"
    ScaleOps.ensurePartitioned(spark, path, "event_date")(d)

    val q = spark.read.parquet(path)
      .filter(col("event_date") === lit("2024-01-02").cast("date"))
      .agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("s"))
    assert(q.head().getLong(0) == 10)
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
      }.flatten
    val fs = scans(q.queryExecution.executedPlan)
    assert(fs.nonEmpty)
    val filesRead = fs.map(_.metrics("numFiles").value).sum
    // An unpruned scan reads every partition's files; the full tree has
    // 3 partition dirs, so pruning must cut the file count to a third.
    val allFiles = scans(spark.read.parquet(path)
      .agg(count(lit(1))).tap(_.head()).queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(filesRead * 3 <= allFiles,
      s"pruned scan read $filesRead of $allFiles files — pruning did not happen")

    // Idempotence: a second ensurePartitioned is a no-op (same files).
    ScaleOps.ensurePartitioned(spark, path, "event_date")(d.limit(1))
    assert(spark.read.parquet(path).count() == 30)
  }

  test("fingerprinted layout rewrites when the source regenerates, skips when it matches") {
    val d1 = df("id BIGINT, event_date DATE")(
      (1 to 6).map(i => Row(i.toLong, java.sql.Date.valueOf("2024-02-01"))))
    val d2 = df("id BIGINT, event_date DATE")(
      (1 to 9).map(i => Row(i.toLong, java.sql.Date.valueOf("2024-02-01"))))
    val path = SparkSpec.tempDir("graft-prune-fp").toString + "/t"
    ScaleOps.ensurePartitioned(spark, path, "event_date", "src-v1")(d1)
    assert(spark.read.parquet(path).count() == 6)
    // Same fingerprint: the (different) frame must NOT be written.
    ScaleOps.ensurePartitioned(spark, path, "event_date", "src-v1")(d2)
    assert(spark.read.parquet(path).count() == 6)
    // Source regenerated (new fingerprint): the stale tree is replaced.
    ScaleOps.ensurePartitioned(spark, path, "event_date", "src-v2")(d2)
    assert(spark.read.parquet(path).count() == 9)
  }

  implicit final class Tap[A](private val a: A) {
    def tap(f: A => Unit): A = { f(a); a }
  }
}
