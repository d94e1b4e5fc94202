package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.spatial.{Poly, Region, Spatial}

/** Spatial operators (SURVEY.md J10, R4): reverse-geocode by containment
  * through the codegen PointInPolygon expression, and bbox→ring
  * construction. The testdata has no lon/lat columns, so coordinates are
  * synthesized deterministically from events (`value`, `event_id`) with
  * identical arithmetic on the oracle side.
  *
  * Oracle parity note: the rectangle reduces to BETWEEN tests and the
  * triangle to a linear edge inequality; bounds are chosen off the data
  * grid (lat is integral, bounds at .5/.005) so ray-casting's
  * boundary-edge semantics can never disagree with the closed-form SQL.
  */
object SpatialQueries {

  private val synthSql =
    "(SELECT event_id, (value % 3.6) * 100 - 180 AS lon, " +
      "CAST((event_id % 180) - 90 AS DOUBLE) AS lat FROM events)"

  private def synth(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      ((col("value") % 3.6) * 100 - lit(180.0)).as("lon"),
      ((col("event_id") % 180) - lit(90.0)).cast("double").as("lat"))

  private val areas = Seq(
    "east_box" -> Spatial.bboxPoly(-60.005, -30.5, 60.005, 30.5),
    "north_tri" -> Poly(Seq((-180.0, 30.5), (180.0, 30.5), (0.0, 90.0), (-180.0, 30.5))))

  val defs: Seq[Q] = Seq(

    // J10: point-in-polygon geocode (turtle-tracks.Rmd:80-87) — first
    // containing area wins, default "WA".
    Q("j10_geocode",
      "SELECT CASE WHEN lon > -60.005 AND lon < 60.005 AND lat > -30.5 AND lat < 30.5 " +
        "THEN 'east_box' WHEN lat > 30.5 AND lat < 30.5 + (1 - abs(lon) / 180.0) * 59.5 " +
        "THEN 'north_tri' ELSE 'WA' END AS location, CAST(count(*) AS BIGINT) AS n " +
        s"FROM $synthSql GROUP BY 1") { (s, d) =>
      synth(s, d)
        .groupBy(Spatial.geocode(col("lon"), col("lat"), areas, "WA").as("location"))
        .agg(count(lit(1)).as("n"))
    },

    // Geodesic pairwise distances (haversine, km) among a bounded point
    // sample — the great-circle counterpart of the reference's planar
    // dist() on degrees (spatial_modelling.Rmd:217; s_pairwise_dist is
    // the planar twin). sin/cos/asin are IEEE-identical on both
    // engines; round(4) on km. Sample capped at 30 points so the pair
    // volume stays dimension-sized (the 100 TB form keys pairs by a
    // spatial grid cell, never all-pairs).
    Q("sp_haversine",
      "WITH p AS (SELECT event_id, (value % 3.6) * 100 - 180 AS lon, " +
        "CAST((event_id % 180) - 90 AS DOUBLE) AS lat FROM events WHERE event_id < 30) " +
        "SELECT a.event_id AS id1, b.event_id AS id2, " +
        "round(2 * 6371.0088 * asin(sqrt(" +
        "pow(sin(radians(b.lat - a.lat) / 2), 2) + " +
        "cos(radians(a.lat)) * cos(radians(b.lat)) * " +
        "pow(sin(radians(b.lon - a.lon) / 2), 2))), 4) AS dist_km " +
        "FROM p a JOIN p b ON a.event_id < b.event_id") { (s, d) =>
      val pts = synth(s, d).filter(col("event_id") < 30)
      val l = pts.select(col("event_id").as("id1"), col("lon").as("lon1"),
        col("lat").as("lat1"))
      val r = pts.select(col("event_id").as("id2"), col("lon").as("lon2"),
        col("lat").as("lat2"))
      l.crossJoin(r).filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(Spatial.haversineKm(col("lon1"), col("lat1"),
            col("lon2"), col("lat2")), 4).as("dist_km"))
    },

    // J10 row-level: the geocoded label per point (exercises the codegen
    // expression per row rather than post-aggregation).
    Q("j10_geocode_rows",
      "SELECT event_id, CASE WHEN lon > -60.005 AND lon < 60.005 AND lat > -30.5 " +
        "AND lat < 30.5 THEN 'east_box' WHEN lat > 30.5 AND " +
        "lat < 30.5 + (1 - abs(lon) / 180.0) * 59.5 THEN 'north_tri' ELSE 'WA' END " +
        s"AS location FROM $synthSql") { (s, d) =>
      synth(s, d).select(col("event_id"),
        Spatial.geocode(col("lon"), col("lat"), areas, "WA").as("location"))
    },

    // J10 + optimizer rule: PointInPolygon as a FILTER with
    // BboxPrefilterRule enabled — the injected range predicates reach the
    // parquet scan (PushedFilters), the exact ray-cast runs on survivors.
    Q("j10_pip_pushdown",
      "SELECT CAST(count(*) AS BIGINT) AS n FROM " + synthSql +
        " WHERE lon > -60.005 AND lon < 60.005 AND lat > -30.5 AND lat < 30.5") { (s, d) =>
      graft.plans.GraftOptimizations.enable(s)
      synth(s, d)
        .filter(Spatial.pointInPolygon(col("lon"), col("lat"), areas.head._2))
        .agg(count(lit(1)).as("n"))
    },

    // R4: bbox corners -> closed 5-point ring (ningaloo-etl.Rmd:96-120),
    // flattened via posexplode for the oracle.
    Q("r4_bbox_ring",
      "WITH b AS (SELECT event_type, min(lon) AS x_min, min(lat) AS y_min, " +
        s"max(lon) AS x_max, max(lat) AS y_max FROM $synthSql e JOIN events ev USING (event_id) GROUP BY 1) " +
        "SELECT event_type, CAST(0 AS INT) AS pt_idx, x_min AS x, y_min AS y FROM b " +
        "UNION ALL SELECT event_type, 1, x_max, y_min FROM b " +
        "UNION ALL SELECT event_type, 2, x_max, y_max FROM b " +
        "UNION ALL SELECT event_type, 3, x_min, y_max FROM b " +
        "UNION ALL SELECT event_type, 4, x_min, y_min FROM b") { (s, d) =>
      val pts = synth(s, d)
        .join(Tables.events(s, d).select("event_id", "event_type"), Seq("event_id"))
      val bbox = pts.groupBy("event_type").agg(
        min("lon").as("x_min"), min("lat").as("y_min"),
        max("lon").as("x_max"), max("lat").as("y_max"))
      bbox
        .select(col("event_type"),
          posexplode(Spatial.bboxRing(
            col("x_min"), col("y_min"), col("x_max"), col("y_max"))))
        .select(col("event_type"), col("pos").as("pt_idx"),
          col("col.lon").as("x"), col("col.lat").as("y"))
    },

    // S-family + K3, end to end: the bbox rings are written as a GeoJSON
    // FeatureCollection (the K3 sink) and read back through the
    // graft-geojson DataSource V2 — schema inference, per-file
    // partitioning, pruned columns — then flattened to exactly the
    // r4_bbox_ring rows, so the SAME oracle re-derives the round trip
    // from raw events. The feature file is dimension-sized (one ring per
    // event type); corpus-scale feature sets shard by file.
    Q("src_geojson_roundtrip",
      "WITH b AS (SELECT event_type, min(lon) AS x_min, min(lat) AS y_min, " +
        s"max(lon) AS x_max, max(lat) AS y_max FROM $synthSql e JOIN events ev USING (event_id) GROUP BY 1) " +
        "SELECT event_type, CAST(0 AS INT) AS pt_idx, x_min AS x, y_min AS y FROM b " +
        "UNION ALL SELECT event_type, 1, x_max, y_min FROM b " +
        "UNION ALL SELECT event_type, 2, x_max, y_max FROM b " +
        "UNION ALL SELECT event_type, 3, x_min, y_max FROM b " +
        "UNION ALL SELECT event_type, 4, x_min, y_min FROM b") { (s, d) =>
      val pts = synth(s, d)
        .join(Tables.events(s, d).select("event_id", "event_type"), Seq("event_id"))
      val rings = pts.groupBy("event_type").agg(
          min("lon").as("x_min"), min("lat").as("y_min"),
          max("lon").as("x_max"), max("lat").as("y_max"))
        .select(col("event_type"), Spatial.bboxRing(
          col("x_min"), col("y_min"), col("x_max"), col("y_max")).as("ring"))
      val path = s"${graft.ops.PersistedState.GeoJsonRings.emptied(s, d)}/rings.geojson"
      graft.io.Sinks.writeGeoJson(rings, "ring", Seq("event_type"), path)
      s.read.format("graft-geojson").load(path)
        .select(col("event_type"), posexplode(col("ring")))
        .select(col("event_type"), col("pos").as("pt_idx"),
          col("col.lon").as("x"), col("col.lat").as("y"))
    },

    // S-family + pushdown: bbox FILE SKIPPING through the DSv2 source.
    // One GeoJSON file per nation-key band (5 files), each carrying its
    // RFC 7946 top-level bbox; nation rectangles are pure arithmetic
    // (lon = 7*key .. 7*key+5), so the oracle re-derives everything
    // from the nation table. The lon_min >= 91 read opens only the 3
    // bands whose header bbox can match — files-read < total is
    // asserted in GeoJsonSourceSpec, row-level exactness re-checked by
    // Spark above the scan (the skip is file-level, not row-level).
    Q("src_geojson_bbox",
      "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
        "CAST(n_nationkey * 7 AS DOUBLE) AS lon_min, " +
        "CAST(n_regionkey * 10 - 80 AS DOUBLE) AS lat_min, " +
        "CAST(n_nationkey * 7 + 5 AS DOUBLE) AS lon_max, " +
        "CAST(n_regionkey * 10 - 75 AS DOUBLE) AS lat_max " +
        "FROM nation WHERE n_nationkey * 7 >= 91") { (s, d) =>
      val dir = bandedNationGeoJson(s, d)
      s.read.format("graft-geojson").load(dir)
        .filter(col("lon_min") >= 91.0)
        .select(col("n_nationkey"), col("n_name"),
          col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))
    },

    // S-family + J10, multi-ring: holed MultiPolygon features read
    // through the DSv2 source's `rings` column, bridged to plan-time
    // MultiPoly constants, and geocoded with EVEN-ODD containment
    // (sp::over on real SpatialPolygons — outer rings + holes,
    // turtle-tracks.Rmd:80-87). A point inside a hole falls through to
    // 'none'; the oracle re-derives everything from interval logic on
    // the rectangle bounds.
    Q("src_geojson_multipoly", multiPolySql) { (s, d) =>
      val path = multiPolyGeoJson(s, d)
      val feats = s.read.format("graft-geojson").load(path)
        .select(col("region"), col("rings")).collect()
      val regions: Seq[(String, Region)] = feats.map { r =>
        r.getString(0) -> (Spatial.regionFromRings(
          r.getSeq[collection.Seq[org.apache.spark.sql.Row]](1)): Region)
      }.sortBy(_._1).toSeq
      synth(s, d)
        .groupBy(Spatial.geocode(col("lon"), col("lat"), regions, "none")
          .as("location"))
        .agg(count(lit(1)).as("n"))
    })

  /** Oracle for src_geojson_multipoly: each region r is TWO rectangles,
    * the first with a rectangular hole, so even-odd containment reduces
    * to closed-form interval logic (`in A and not in hole, or in B`).
    * Bounds sit off the synthesized data grid (lon integral, bounds at
    * .005; lat integral, bounds at .5), so ray-casting boundary
    * semantics can never disagree with the SQL — the j10 convention. */
  // lazy: referenced from `defs` above its declaration point — a plain
  // val would still be null during the object's initializer.
  private lazy val multiPolySql: String = {
    val cases = (0 until 5).map { r =>
      val b = 72.0 * r - 180.0
      s"WHEN (lon > ${b + 0.005} AND lon < ${b + 30.005} AND lat > -60.5 AND lat < 60.5 " +
        s"AND NOT (lon > ${b + 10.005} AND lon < ${b + 20.005} AND lat > -30.5 AND lat < 30.5)) " +
        s"OR (lon > ${b + 35.005} AND lon < ${b + 65.005} AND lat > -60.5 AND lat < 60.5) " +
        s"THEN 'r$r'"
    }.mkString(" ")
    s"SELECT CASE $cases ELSE 'none' END AS location, " +
      s"CAST(count(*) AS BIGINT) AS n FROM $synthSql GROUP BY 1"
  }

  /** The 5 holed MultiPolygon regions of [[multiPolySql]] as a GeoJSON
    * FeatureCollection file (hand-laid-out: the K3 sink writes single
    * rings; this fixture exercises the SOURCE'S multi-ring parse).
    * Outer rings wind CCW and holes CW per RFC 7946 — though the
    * even-odd consumer is winding-agnostic by construction. */
  def multiPolyGeoJson(s: SparkSession, d: String): String = {
    val path = s"${graft.ops.PersistedState.GeoJsonMultiPoly.emptied(s, d)}/regions.geojson"
    def ring(x0: Double, y0: Double, x1: Double, y1: Double, cw: Boolean): String = {
      val ccw = Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
      (if (cw) ccw.reverse else ccw)
        .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
    }
    val feats = (0 until 5).map { r =>
      val b = 72.0 * r - 180.0
      val polyA = s"[${ring(b + 0.005, -60.5, b + 30.005, 60.5, cw = false)}," +
        s"${ring(b + 10.005, -30.5, b + 20.005, 30.5, cw = true)}]"
      val polyB = s"[${ring(b + 35.005, -60.5, b + 65.005, 60.5, cw = false)}]"
      s"""{"type":"Feature","geometry":{"type":"MultiPolygon",""" +
        s""""coordinates":[$polyA,$polyB]},"properties":{"region":"r$r"}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      feats.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}"))
    path
  }

  /** Writes the 25 nation rectangles as 5 band files (nation keys
    * 0-4, 5-9, ...) with file-level bboxes into the warehouse's
    * [[graft.ops.PersistedState.GeoJsonBands]] directory, rewritten on
    * every call; returns the directory. Shared by the src_geojson_bbox
    * query and the pruning spec. */
  def bandedNationGeoJson(s: SparkSession, d: String): String = {
    val dir = graft.ops.PersistedState.GeoJsonBands.emptied(s, d)
    val nat = Tables.nation(s, d).select(
      col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
      (col("n_nationkey") * 7.0).as("x_min"),
      (col("n_regionkey") * 10.0 - 80).as("y_min"),
      (col("n_nationkey") * 7.0 + 5).as("x_max"),
      (col("n_regionkey") * 10.0 - 75).as("y_max"))
      .withColumn("ring", Spatial.bboxRing(
        col("x_min"), col("y_min"), col("x_max"), col("y_max")))
    (0 until 5).foreach { g =>
      graft.io.Sinks.writeGeoJson(
        nat.filter(col("n_nationkey") >= g * 5 && col("n_nationkey") < (g + 1) * 5),
        "ring", Seq("n_nationkey", "n_name"), s"$dir/band_$g.geojson")
    }
    dir
  }
}
