package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.io.Sinks

/** The graft-geojson DataSource V2: sink -> source round trip, schema
  * inference, column pruning pushdown, per-file partitioning. */
class GeoJsonSourceSpec extends SparkSpec {
  import spark.implicits._

  private def sitesDf = df(
    "site STRING, pop BIGINT, ring ARRAY<STRUCT<lon DOUBLE, lat DOUBLE>>")(Seq(
    Row("a", 10L, Seq(Row(0.0, 0.0), Row(1.0, 0.0), Row(1.0, 1.0), Row(0.0, 0.0))),
    Row("b", 20L, Seq(Row(5.0, 5.0), Row(6.0, 5.0), Row(6.0, 6.0), Row(5.0, 5.0)))))

  private def writeTmp(): String = {
    val dir = SparkSpec.tempDir("geojson_spec").toString
    val path = s"$dir/sites.geojson"
    Sinks.writeGeoJson(sitesDf, "ring", Seq("site", "pop"), path)
    path
  }

  test("sink -> source round trip preserves properties and rings") {
    val path = writeTmp()
    val back = spark.read.format("graft-geojson").load(path)
    assert(back.schema.fieldNames.toSeq ==
      Seq("site", "pop", "geometry_type", "ring", "rings",
        "lon_min", "lat_min", "lon_max", "lat_max"))
    val got = back
      .select(col("site"), col("pop"), col("geometry_type"),
        size(col("ring")).as("n"), element_at(col("ring"), 2).getField("lon").as("x2"))
      .orderBy("site")
      .as[(String, Long, String, Int, Double)].collect().toSeq
    assert(got == Seq(("a", 10L, "Polygon", 4, 1.0), ("b", 20L, "Polygon", 4, 6.0)))
  }

  test("column pruning reaches the scan (properties-only read drops ring)") {
    val path = writeTmp()
    val q = spark.read.format("graft-geojson").load(path).select("site")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema: struct<site:string>"),
      s"ring not pruned from scan: $scan")
    assert(q.as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("unsupported geometry types fail loudly instead of parsing as zeros") {
    val dir = SparkSpec.tempDir("geojson_bad").toString
    val path = s"$dir/bad.geojson"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"type":"FeatureCollection","features":[{"type":"Feature",
        |"geometry":{"type":"GeometryCollection","geometries":[]},
        |"properties":{"site":"m"}}]}""".stripMargin.replace("\n", ""))
    val e = intercept[Exception] {
      spark.read.format("graft-geojson").load(path).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("unsupported geometry")))
  }

  test("MultiPolygon with a hole: all rings surface; ring stays the first outer") {
    val dir = SparkSpec.tempDir("geojson_mp").toString
    val path = s"$dir/mp.geojson"
    // Two polygons: a 0..4 square with a 1..3 hole, and a 10..12 square.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"type":"FeatureCollection","features":[{"type":"Feature",
        |"geometry":{"type":"MultiPolygon","coordinates":[
        |[[[0,0],[4,0],[4,4],[0,4],[0,0]],[[1,1],[3,1],[3,3],[1,3],[1,1]]],
        |[[[10,0],[12,0],[12,2],[10,2],[10,0]]]]},
        |"properties":{"site":"m"}}]}""".stripMargin.replace("\n", ""))
    val back = spark.read.format("graft-geojson").load(path)
      .select(col("site"), col("geometry_type"), size(col("rings")).as("n_rings"),
        size(col("ring")).as("n_outer"),
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))
      .as[(String, String, Int, Int, Double, Double, Double, Double)]
      .collect().toSeq
    assert(back == Seq(("m", "MultiPolygon", 3, 5, 0.0, 0.0, 12.0, 4.0)))
    // Even-odd containment over the collected rings: inside the first
    // outer -> true, inside its hole -> false, inside the second
    // polygon -> true, outside everything -> false.
    val rings = spark.read.format("graft-geojson").load(path)
      .select("rings").collect().head
      .getSeq[Seq[Row]](0)
    val region = graft.spatial.Spatial.regionFromRings(rings)
    assert(region.contains(0.5, 0.5))
    assert(!region.contains(2.0, 2.0), "point in the hole must be outside")
    assert(region.contains(11.0, 1.0))
    assert(!region.contains(7.0, 1.0))
  }

  test("writeGeoJsonMulti -> source round trip: holed MultiPolygon, header bbox") {
    import graft.spatial.Spatial
    val dir = SparkSpec.tempDir("geojson_mpsink").toString
    val path = s"$dir/mp.geojson"
    // One feature: square [0,4]^2 with hole [1,3]^2, plus [10,12]x[0,2].
    val d = Seq(("m", 7L)).toDF("site", "pop").select(
      col("site"), col("pop"),
      array(
        array(
          Spatial.bboxRing(lit(0.0), lit(0.0), lit(4.0), lit(4.0)),
          Spatial.bboxRing(lit(1.0), lit(1.0), lit(3.0), lit(3.0))),
        array(Spatial.bboxRing(lit(10.0), lit(0.0), lit(12.0), lit(2.0))))
        .as("polys"))
    Sinks.writeGeoJsonMulti(d, "polys", Seq("site", "pop"), path)
    // Header bbox spans every ring — the file stays prunable.
    assert(GeoJsonTable.fileBbox(path).contains((0.0, 0.0, 12.0, 4.0)))
    val back = spark.read.format("graft-geojson").load(path)
    val head = back.select(col("site"), col("pop"), col("geometry_type"),
      size(col("rings")).as("n"), col("lon_max"), col("lat_max")).collect().head
    assert(head.getString(0) == "m" && head.getLong(1) == 7L &&
      head.getString(2) == "MultiPolygon" && head.getInt(3) == 3 &&
      head.getDouble(4) == 12.0 && head.getDouble(5) == 4.0)
    val region = graft.spatial.Spatial.regionFromRings(
      back.select("rings").collect().head.getSeq[Seq[Row]](0))
    assert(region.contains(0.5, 0.5) && !region.contains(2.0, 2.0) &&
      region.contains(11.0, 1.0) && !region.contains(7.0, 1.0))
  }

  test("empty coordinate arrays: zero rings, null bbox (no min/max crash)") {
    val dir = SparkSpec.tempDir("geojson_empty").toString
    val path = s"$dir/e.geojson"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"MultiPoint","coordinates":[]},
        |"properties":{"site":"e"}},
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[2.0,3.0]},
        |"properties":{"site":"p"}}]}""".stripMargin.replace("\n", ""))
    val back = spark.read.format("graft-geojson").load(path)
      .select(col("site"), size(col("rings")).as("n"), col("lon_min"), col("lat_max"))
      .orderBy("site").collect().toSeq
    assert(back.head.getString(0) == "e" && back.head.getInt(1) == 0)
    assert(back.head.isNullAt(2) && back.head.isNullAt(3),
      "empty geometry must carry null bbox, mirroring the sink")
    assert(back(1).getString(0) == "p" && back(1).getDouble(2) == 2.0 &&
      back(1).getDouble(3) == 3.0)
  }

  test("malformed (non-array) coordinates fail loudly, not as silent empties") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    // A scalar where a Polygon ring belongs: the garbage ring must not
    // be silently dropped (the hole would be promoted to the outer).
    val dir = SparkSpec.tempDir("geojson_malformed").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/badring.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Polygon",
        |"coordinates":["oops",[[1,1],[3,1],[3,3],[1,3],[1,1]]]},
        |"properties":{"site":"x"}}]}""".stripMargin.replace("\n", ""))
    val e1 = intercept[Exception] {
      spark.read.format("graft-geojson").load(s"$dir/badring.geojson")
        .select("ring").collect()
    }
    assert(messages(e1).exists(m => m != null && m.contains("not an array")))
    // A scalar where Point coordinates belong.
    Files.writeString(java.nio.file.Paths.get(s"$dir/badpoint.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":7},
        |"properties":{"site":"y"}}]}""".stripMargin.replace("\n", ""))
    val e2 = intercept[Exception] {
      spark.read.format("graft-geojson").load(s"$dir/badpoint.geojson")
        .select("lon_min").collect()
    }
    assert(messages(e2).exists(m => m != null && m.contains("not an array")))
  }

  test("a property named like a reserved geometry column fails inference loudly") {
    val dir = SparkSpec.tempDir("geojson_clash").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/c.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[0,0]},
        |"properties":{"lon_min":-5.0,"site":"x"}}]}""".stripMargin.replace("\n", ""))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-geojson").load(dir).schema
    }
    assert(e.getMessage.contains("lon_min") && e.getMessage.contains("collides"))
    // An EXPLICIT user schema skips inference; the partition reader must
    // re-detect the collision instead of silently returning the
    // geometry-derived value for the shadowed property.
    val e2 = intercept[Exception] {
      spark.read.format("graft-geojson")
        .schema("site STRING, lon_min DOUBLE").load(dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e2).exists(m => m.contains("lon_min") && m.contains("collides")),
      s"expected reader-side collision failure, got: ${msgs(e2)}")
    // A user schema naming ONLY non-colliding reserved columns still reads.
    val ok = spark.read.format("graft-geojson")
      .schema("site STRING, lat_min DOUBLE").load(dir)
      .as[(String, Double)].collect().toSeq
    assert(ok == Seq(("x", 0.0)))
  }

  test("a directory of feature files reads as one table, one partition per file") {
    val dir = SparkSpec.tempDir("geojson_dir").toString
    Sinks.writeGeoJson(sitesDf.filter($"site" === "a"), "ring", Seq("site", "pop"),
      s"$dir/part1.geojson")
    Sinks.writeGeoJson(sitesDf.filter($"site" === "b"), "ring", Seq("site", "pop"),
      s"$dir/part2.geojson")
    val back = spark.read.format("graft-geojson").load(dir)
    assert(back.rdd.getNumPartitions == 2)
    assert(back.select("site").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("bbox filter pushdown skips whole files by their header bbox") {
    val dir = SparkSpec.tempDir("geojson_prune").toString
    Sinks.writeGeoJson(sitesDf.filter($"site" === "a"), "ring", Seq("site", "pop"),
      s"$dir/a.geojson") // bbox [0,0,1,1]
    Sinks.writeGeoJson(sitesDf.filter($"site" === "b"), "ring", Seq("site", "pop"),
      s"$dir/b.geojson") // bbox [5,5,6,6]
    val q = spark.read.format("graft-geojson").load(dir)
      .filter($"lon_min" >= 4.0)
    // File a's header bbox [0,0,1,1] proves lon_min <= 1 < 4: never opened.
    assert(q.rdd.getNumPartitions == 1, "file not pruned by header bbox")
    assert(q.select("site").as[String].collect().toSeq == Seq("b"))
    // The whole-query result is still row-exact, not file-granular.
    val between = spark.read.format("graft-geojson").load(dir)
      .filter($"lat_max" <= 3.0)
    assert(between.select("site").as[String].collect().toSeq == Seq("a"))
    assert(between.rdd.getNumPartitions == 1)
  }

  test("the banded-nation fixture prunes 2 of 5 files under lon_min >= 91") {
    val dir = graft.queries.SpatialQueries.bandedNationGeoJson(
      spark, "/root/testdata/sf0.001")
    val q = spark.read.format("graft-geojson").load(dir).filter($"lon_min" >= 91.0)
    assert(q.rdd.getNumPartitions == 3, "expected bands 2,3,4 only")
    assert(q.count() == 12) // nation keys 13..24
  }

  test("files WITHOUT a header bbox are never pruned (no false skips)") {
    val dir = SparkSpec.tempDir("geojson_nobbox").toString
    Sinks.writeGeoJson(sitesDf.filter($"site" === "a"), "ring", Seq("site", "pop"),
      s"$dir/a.geojson") // has bbox [0,0,1,1]
    // Hand-written file with NO bbox member: conservatively always read.
    Files.writeString(java.nio.file.Paths.get(s"$dir/nobbox.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[9.0,9.0]},
        |"properties":{"site":"far","pop":1}}]}""".stripMargin.replace("\n", ""))
    val q = spark.read.format("graft-geojson").load(dir).filter($"lon_min" >= 4.0)
    // File a is pruned by its bbox; the bbox-less file must survive
    // planning and contribute its (row-filtered) feature.
    assert(q.rdd.getNumPartitions == 1)
    assert(q.select("site").as[String].collect().toSeq == Seq("far"))
  }

  test("schema inference samples all features and files; long+double widens") {
    val dir = SparkSpec.tempDir("geojson_widen").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/f1.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[0,0]},
        |"properties":{"v":2}}]}""".stripMargin.replace("\n", ""))
    Files.writeString(java.nio.file.Paths.get(s"$dir/f2.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[1,1]},
        |"properties":{"v":2.7,"only_here":"x"}}]}""".stripMargin.replace("\n", ""))
    val back = spark.read.format("graft-geojson").load(dir)
    assert(back.schema("v").dataType.typeName == "double")
    assert(back.schema.fieldNames.contains("only_here"))
    // 2.7 survives as 2.7 — no silent truncation to 2.
    assert(back.select("v").as[Double].collect().sorted.toSeq == Seq(2.0, 2.7))
  }

  test("irreconcilable property types fail inference loudly") {
    val dir = SparkSpec.tempDir("geojson_conflict").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/f1.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[0,0]},
        |"properties":{"v":1}},
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[1,1]},
        |"properties":{"v":"one"}}]}""".stripMargin.replace("\n", ""))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-geojson").load(dir).schema
    }
    assert(e.getMessage.contains("property 'v'"))
  }

  test("null geometry errors descriptively when geometry columns are read") {
    val dir = SparkSpec.tempDir("geojson_nullgeom").toString
    val path = s"$dir/n.geojson"
    Files.writeString(java.nio.file.Paths.get(path),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":null,"properties":{"site":"n"}}]}"""
        .stripMargin.replace("\n", ""))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    val e = intercept[Exception] {
      spark.read.format("graft-geojson").load(path).select("ring").collect()
    }
    assert(messages(e).exists(m => m != null && m.contains("null geometry")))
    // Properties-only reads of the same file are fine (RFC 7946 allows
    // null geometry; only geometry-derived columns need one).
    val sites = spark.read.format("graft-geojson").load(path)
      .select("site").as[String].collect().toSeq
    assert(sites == Seq("n"))
  }
}
