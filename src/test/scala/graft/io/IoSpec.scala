package graft.io

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.etl.{TrackCounts, TrackFixtures}
import graft.spatial.Spatial
import java.nio.file.{Files, Paths}

class IoSpec extends SparkSpec {
  import spark.implicits._

  test("writeCsv round-trips with header (K1)") {
    val dir = SparkSpec.tempDir("graft_csv").toString
    val d = Seq((1, "a"), (2, "b")).toDF("id", "name")
    Sinks.writeCsv(d, s"$dir/out")
    val back = spark.read.option("header", true).option("inferSchema", true)
      .csv(s"$dir/out")
    assert(rows(back.orderBy("id")) == Seq(Seq(1, "a"), Seq(2, "b")))
  }

  test("writeCsvTimestamped sanitizes the timestamp into the path (K2)") {
    val dir = SparkSpec.tempDir("graft_csv_ts").toString
    val path = Sinks.writeCsvTimestamped(Seq(Tuple1(1)).toDF("x"), dir, "snap",
      java.time.Instant.parse("2017-03-22T09:00:00Z"))
    assert(path.endsWith("snap_2017-03-22T09-00-00Z"))
    assert(Files.exists(Paths.get(path)))
  }

  test("writeGeoJson emits a valid FeatureCollection with ring + properties (K3)") {
    val d = Seq(("s1", 1.0, 2.0, 3.0, 4.0)).toDF("name", "x0", "y0", "x1", "y1")
      .withColumn("ring", Spatial.bboxRing(col("x0"), col("y0"), col("x1"), col("y1")))
    val path = SparkSpec.tempDir("graft_geo").toString + "/sites.geojson"
    Sinks.writeGeoJson(d, "ring", Seq("name"), path)
    val doc = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(doc)
    assert(node.get("type").asText() == "FeatureCollection")
    val feat = node.get("features").get(0)
    assert(feat.get("geometry").get("type").asText() == "Polygon")
    assert(feat.get("geometry").get("coordinates").get(0).size() == 5)
    assert(feat.get("properties").get("name").asText() == "s1")
  }

  test("parseGft: positional splice + name sanitation (N1/O4)") {
    val feed = JsonFeed.parseGft(spark, TrackFixtures.jsonBody,
      splice = Some("observed_at" -> TrackFixtures.spliceNames))
    assert(feed.columns.toSeq == Seq("meta_instance_id", "meta_submission_date",
      "longitude", "latitude", "altitude", "accuracy", "observed_at",
      "feature_class", "species", "nest_age", "nest_type"))
    assert(feed.count() == 8)
    assert(rows(feed.filter($"meta_instance_id" === "uuid:003")
      .select("longitude", "species")) == Seq(Seq("115.80", "loggerhead")))
  }

  test("spliceAt inserts at the anchor and fails on a missing anchor") {
    assert(JsonFeed.spliceAt(Seq("a", "b", "c"), "b", Seq("x", "y")) ==
      Seq("a", "x", "y", "c"))
    intercept[IllegalArgumentException](JsonFeed.spliceAt(Seq("a"), "zz", Seq("x")))
  }

  test("parseGeoJsonPolygon parses bare and wrapped coordinate arrays (N3)") {
    val bare = JsonFeed.parseGeoJsonPolygon("[[[1.0,2.0],[3.0,2.0],[3.0,4.0],[1.0,2.0]]]")
    assert(bare.xs.toSeq == Seq(1.0, 3.0, 3.0, 1.0))
    val wrapped = JsonFeed.parseGeoJsonPolygon(
      """{"type":"Polygon","coordinates":[[[115.0,-32.0],[116.0,-32.0],[116.0,-31.0],[115.0,-32.0]]]}""")
    assert(wrapped.contains(115.7, -31.7))
  }

  test("track pipeline goldens: dedup, geocode, Perth dates") {
    val feed = JsonFeed.parseGft(spark, TrackFixtures.jsonBody,
      splice = Some("observed_at" -> TrackFixtures.spliceNames))
    val geo = TrackCounts.geocoded(
      TrackCounts.typed(TrackCounts.dedup(feed)), TrackFixtures.areas)
    assert(geo.count() == 7) // uuid:001 duplicate collapsed
    val locs = geo.groupBy("location").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(locs == Map("Thevenard" -> 4L, "Montebello" -> 1L, "Perth" -> 1L, "WA" -> 1L))
    // 22:10 UTC on 03/21 is 06:10 on 03/22 in Perth
    val d1 = geo.filter($"meta_instance_id" === "uuid:001").head().getAs[java.sql.Date]("obs_date")
    assert(d1.toString == "2017-03-22")
  }
}
