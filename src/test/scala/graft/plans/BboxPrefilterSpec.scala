package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.spatial.{MultiPoly, Poly, Spatial}
import java.nio.file.Files

class BboxPrefilterSpec extends SparkSpec {
  import spark.implicits._

  // Non-convex polygon so the bbox is a strict over-approximation.
  private val lShape = Poly(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (4.0, 4.0),
    (4.0, 10.0), (0.0, 10.0), (0.0, 0.0)))

  private lazy val parquetDir = {
    val dir = SparkSpec.tempDir("graft_bbox").toString + "/pts"
    (-5 until 15).flatMap(x => (-5 until 15).map(y => (x.toDouble, y.toDouble)))
      .toDF("lon", "lat").write.parquet(dir)
    dir
  }

  test("rule injects pushable bbox bounds and preserves results exactly") {
    GraftOptimizations.enable(spark)
    val df = spark.read.parquet(parquetDir)
      .filter(Spatial.pointInPolygon($"lon", $"lat", lShape))
    val plan = df.queryExecution.executedPlan.toString
    // (the FileScan summary truncates the PushedFilters list, so assert
    // on the leading bounds)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(lon,0.0)") &&
      plan.contains("LessThanOrEqual(lon,10.0)") &&
      plan.contains("GreaterThanOrEqual(lat,0.0)"),
      s"bbox bounds not pushed:\n$plan")
    // results identical to the un-optimized evaluation
    val expected = (-5 until 15).flatMap(x => (-5 until 15).map(y => (x, y)))
      .count { case (x, y) => lShape.contains(x, y) }
    assert(df.count() == expected)
    // bbox over-approximation alone would give 11*11: the exact test still runs
    assert(expected < 121)
  }

  test("rule injects the COMBINED bbox for a multi-part holed region") {
    // Two disjoint parts + a hole: the injected bounds must cover the
    // UNION of parts (not one ring, not the hole), and the exact
    // even-odd test still excludes hole points inside the bbox.
    val region = MultiPoly(Seq(
      Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)),
      Seq((1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)), // hole
      Seq((8.0, 0.0), (10.0, 0.0), (10.0, 2.0), (8.0, 2.0))))
    GraftOptimizations.enable(spark)
    val df = spark.read.parquet(parquetDir)
      .filter(Spatial.pointInPolygon($"lon", $"lat", region))
    val plan = df.queryExecution.executedPlan.toString
    // (the FileScan PushedFilters summary truncates; the lat upper
    // bound is asserted from the Filter condition text instead)
    assert(plan.contains("GreaterThanOrEqual(lon,0.0)") &&
      plan.contains("LessThanOrEqual(lon,10.0)") &&
      plan.contains("<= 4.0)"),
      s"combined multi-part bounds not pushed:\n$plan")
    val expected = (-5 until 15).flatMap(x => (-5 until 15).map(y => (x, y)))
      .count { case (x, y) => region.contains(x, y) }
    assert(df.count() == expected)
    // The hole interior point (2,2) is inside the pushed bbox but must
    // not survive the exact test.
    assert(!region.contains(2.0, 2.0))
  }

  test("rule is idempotent and leaves OR'd PIP predicates alone") {
    GraftOptimizations.enable(spark)
    GraftOptimizations.enable(spark) // double-enable must not double-add
    val df = spark.read.parquet(parquetDir)
      .filter(Spatial.pointInPolygon($"lon", $"lat", lShape) || $"lon" > 100)
    // a disjunctive PIP must NOT inject mandatory bounds
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("lon#") || !optimized.toLowerCase.contains("greaterthanorequal(lon"))
    val expected = (-5 until 15).flatMap(x => (-5 until 15).map(y => (x, y)))
      .count { case (x, y) => lShape.contains(x, y) || x > 100 }
    assert(df.count() == expected)
  }
}
