package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import java.nio.file.Files

/** Row-group data skipping on a range-clustered layout, asserted on the
  * EXECUTED scan metric: the same range query over the same rows must
  * emit far fewer rows from a sorted layout's scan than from a shuffled
  * one — the reader prunes whole row groups by footer [min,max].
  * (sc3_sorted_scan REQUIREs the footer clustering in-query; this pins
  * the actual skipping effect.) */
class RowGroupSkippingSpec extends SparkSpec {

  private def scanRows(q: org.apache.spark.sql.DataFrame): Long = {
    q.head() // execute
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
      }.flatten
    scans(q.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
  }

  test("range query over sorted layout emits a fraction of the shuffled layout's scan rows") {
    val n = 20000
    // Small row groups so one file holds several — the unit being skipped.
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", 512)
    val d = df("k BIGINT, v DOUBLE")(
      scala.util.Random.shuffle((1 to n).toList)
        .map(i => Row(i.toLong, i * 0.5)))
    val base = SparkSpec.tempDir("graft-rg").toString
    val sorted = s"$base/sorted"
    val shuffled = s"$base/shuffled"
    val conf = "parquet.block.size"
    val tiny = (64 * 1024).toString // many row groups per file
    d.write.option(conf, tiny).mode("overwrite").parquet(shuffled)
    d.repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.option(conf, tiny).mode("overwrite").parquet(sorted)

    def rangeQ(path: String) = spark.read.parquet(path)
      .filter(col("k").between(100, 199))
      .agg(count(lit(1)).as("n"))
    assert(rangeQ(sorted).head().getLong(0) == 100)
    val sortedRows = scanRows(rangeQ(sorted))
    val shuffledRows = scanRows(rangeQ(shuffled))
    assert(sortedRows * 4 <= shuffledRows,
      s"sorted scan emitted $sortedRows vs shuffled $shuffledRows — row groups not skipped")
  }

  test("rowGroupRanges reads tight disjoint footer stats from a sorted write") {
    val d = df("k BIGINT")((1 to 4000).map(i => Row(i.toLong)))
    val path = SparkSpec.tempDir("graft-rg2").toString + "/t"
    ScaleOps.ensureSortedBy(spark, path, "k", 4, "fp-rg")(d)
    val ranges = ScaleOps.rowGroupRanges(path, "k")
    assert(ranges.size >= 4)
    // Range clustering means the per-group spans are disjoint and
    // together tile 1..4000.
    val sortedRanges = ranges.sortBy(_._1)
    sortedRanges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
    assert(sortedRanges.head._1 == 1L && sortedRanges.last._2 == 4000L)
  }
}
