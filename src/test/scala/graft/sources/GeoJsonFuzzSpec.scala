package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.spatial.{MultiPoly, Spatial}

/** Property fuzz of the MultiPolygon/holes parser: arbitrary ring
  * counts, vertex counts (including degenerate 1–2-point and EMPTY
  * rings), winding directions, starting-vertex rotations, and polygon
  * nesting. The parsed `rings`, bbox columns, and even-odd containment
  * must agree with a direct computation on the generated geometry, and
  * containment must be invariant under per-ring rotation + winding
  * reversal applied at the JSON level (GeoJSON in the wild violates
  * RFC 7946 winding routinely). */
class GeoJsonFuzzSpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // Mixed integer/fractional coordinates: both JSON shapes ("3" and
  // "3.25") must parse to the same doubles Scala holds. Quarters
  // round-trip exactly through decimal text.
  private val coordGen: Gen[Double] =
    Gen.oneOf(Gen.choose(-20, 20).map(_.toDouble),
      Gen.choose(-80, 80).map(_ / 4.0))

  private val ringGen: Gen[List[(Double, Double)]] =
    Gen.frequency(
      1 -> Gen.const(Nil), // RFC 7946 allows empty coordinate arrays
      1 -> Gen.listOfN(1, Gen.zip(coordGen, coordGen)), // degenerate
      2 -> Gen.listOfN(2, Gen.zip(coordGen, coordGen)), // degenerate
      6 -> Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, Gen.zip(coordGen, coordGen))))

  private val polyGen: Gen[List[List[(Double, Double)]]] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, ringGen))

  private val multiGen: Gen[List[List[List[(Double, Double)]]]] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, polyGen))

  private def ringJson(r: List[(Double, Double)]): String =
    r.map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")

  private def featureJson(fid: Int, polys: List[List[List[(Double, Double)]]],
                          asPolygon: Boolean): String = {
    val geom =
      if (asPolygon)
        s"""{"type":"Polygon","coordinates":${
          polys.head.map(ringJson).mkString("[", ",", "]")}"""  + "}"
      else
        s"""{"type":"MultiPolygon","coordinates":${
          polys.map(p => p.map(ringJson).mkString("[", ",", "]"))
            .mkString("[", ",", "]")}""" + "}"
    s"""{"type":"Feature","geometry":$geom,"properties":{"fid":$fid}}"""
  }

  private def rowRings(r: Row, i: Int): Seq[Seq[(Double, Double)]] =
    r.getSeq[scala.collection.Seq[Row]](i)
      .map(_.map(p => (p.getDouble(0), p.getDouble(1))).toSeq).toSeq

  /** Containment region over the rings a region can be built from —
    * Poly requires >= 3 vertices, so degenerate fuzz rings (1-2
    // points) are excluded IDENTICALLY on both sides of every parity
    * check. */
  private def region(rings: Seq[Seq[(Double, Double)]]): MultiPoly =
    MultiPoly(rings.filter(_.size >= 3))

  test("fuzz: rings, bbox, and even-odd containment match the generated geometry") {
    val dir = SparkSpec.tempDir("geojson_fuzz").toString
    val features = (0 until 60).map { fid =>
      val polys = sample(multiGen, 1000L + fid)
      val asPolygon = fid % 3 == 0
      val geomPolys = if (asPolygon) List(polys.head) else polys
      (fid, geomPolys, featureJson(fid, polys, asPolygon))
    }
    Files.writeString(Paths.get(s"$dir/fuzz.geojson"),
      features.map(_._3).mkString(
        """{"type":"FeatureCollection","features":[""", ",", "]}"))

    val back = spark.read.format("graft-geojson").load(dir)
      .select("fid", "rings", "ring", "lon_min", "lat_min", "lon_max", "lat_max")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(back.size == features.size)

    features.foreach { case (fid, polys, _) =>
      val row = back(fid.toLong)
      val expected = polys.flatten.filter(_.nonEmpty).map(_.toSeq)
      val gotRings = rowRings(row, 1)
      assert(gotRings == expected, s"fid=$fid rings mismatch")
      // `ring` is the first (outer) ring, empty when no rings survive.
      val gotOuter = row.getSeq[Row](2).map(p => (p.getDouble(0), p.getDouble(1))).toSeq
      assert(gotOuter == expected.headOption.getOrElse(Seq.empty), s"fid=$fid outer")
      val pts = expected.flatten
      if (pts.isEmpty)
        assert(row.isNullAt(3) && row.isNullAt(4) && row.isNullAt(5) && row.isNullAt(6),
          s"fid=$fid expected null bbox")
      else {
        assert(row.getDouble(3) == pts.map(_._1).min, s"fid=$fid lon_min")
        assert(row.getDouble(4) == pts.map(_._2).min, s"fid=$fid lat_min")
        assert(row.getDouble(5) == pts.map(_._1).max, s"fid=$fid lon_max")
        assert(row.getDouble(6) == pts.map(_._2).max, s"fid=$fid lat_max")
        // Even-odd containment through the parsed rings equals the
        // direct MultiPoly on the generated geometry (regions need at
        // least one non-degenerate ring to build).
        if (expected.exists(_.size >= 3)) {
          val direct = region(expected)
          val parsed = region(gotRings)
          (0 until 12).foreach { k =>
            val (px, py) = sample(Gen.zip(coordGen, coordGen), 9000L + fid * 100 + k)
            assert(parsed.contains(px, py) == direct.contains(px, py),
              s"fid=$fid point=($px,$py)")
          }
        }
      }
    }
  }

  test("fuzz: sink -> source composition round-trips arbitrary MultiPolygons") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = SparkSpec.tempDir("geojson_fuzz_sink").toString
    val path = s"$dir/mp.geojson"
    val polysType = ArrayType(ArrayType(ArrayType(StructType(Seq(
      StructField("lon", DoubleType), StructField("lat", DoubleType))))))
    val base = (0 until 40).map { fid =>
      (fid, sample(multiGen, 20000L + fid))
    }
    val rows = base.map { case (fid, polys) =>
      Row(fid.toLong, polys.map(p => p.map(r => r.map { case (x, y) => Row(x, y) })))
    }
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("fid", LongType), StructField("polys", polysType))))
    graft.io.Sinks.writeGeoJsonMulti(d, "polys", Seq("fid"), path)
    val back = spark.read.format("graft-geojson").load(path)
      .select("fid", "rings", "lon_min", "lat_min", "lon_max", "lat_max")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(back.size == base.size)
    base.foreach { case (fid, polys) =>
      val row = back(fid.toLong)
      // Source contract: empty rings are dropped, everything else —
      // including degenerate 1-2-point rings — survives byte-exactly.
      val expected = polys.flatten.filter(_.nonEmpty).map(_.toSeq)
      assert(rowRings(row, 1) == expected, s"fid=$fid sink round trip")
      val pts = expected.flatten
      if (pts.nonEmpty) {
        assert(row.getDouble(2) == pts.map(_._1).min &&
          row.getDouble(5) == pts.map(_._2).max, s"fid=$fid bbox")
      } else assert(row.isNullAt(2), s"fid=$fid null bbox")
    }
    // The header bbox spans every surviving point of every feature —
    // the file-skipping contract under fuzz.
    val all = base.flatMap(_._2.flatten.flatten)
    if (all.nonEmpty) {
      val hdr = GeoJsonTable.fileBbox(path)
      assert(hdr.contains((all.map(_._1).min, all.map(_._2).min,
        all.map(_._1).max, all.map(_._2).max)), s"header bbox $hdr")
    }
  }

  test("fuzz: JSON-level ring rotation + winding reversal never changes the read") {
    val dir1 = SparkSpec.tempDir("geojson_fuzz_a").toString
    val dir2 = SparkSpec.tempDir("geojson_fuzz_b").toString
    val base = (0 until 30).map { fid =>
      (fid, sample(multiGen, 5000L + fid))
    }
    def mutate(polys: List[List[List[(Double, Double)]]], seed: Long) =
      polys.zipWithIndex.map { case (p, pi) =>
        p.zipWithIndex.map { case (r, ri) =>
          if (r.isEmpty) r
          else {
            val rot = sample(Gen.choose(0, r.size - 1), seed + pi * 10 + ri)
            val rotated = r.drop(rot) ++ r.take(rot)
            if (sample(Gen.prob(0.5), seed + 77 + pi * 10 + ri)) rotated.reverse
            else rotated
          }
        }
      }
    def write(dir: String, fs: Seq[(Int, List[List[List[(Double, Double)]]])]): Unit =
      Files.writeString(Paths.get(s"$dir/f.geojson"),
        fs.map { case (fid, p) => featureJson(fid, p, asPolygon = false) }
          .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}"))
    write(dir1, base)
    write(dir2, base.map { case (fid, p) => (fid, mutate(p, 31L * fid)) })

    def readAll(dir: String): Map[Long, Row] =
      spark.read.format("graft-geojson").load(dir)
        .select("fid", "rings", "lon_min", "lat_min", "lon_max", "lat_max")
        .collect().map(r => r.getLong(0) -> r).toMap
    val a = readAll(dir1); val b = readAll(dir2)
    base.foreach { case (fid, _) =>
      val (ra, rb) = (a(fid.toLong), b(fid.toLong))
      // bbox is rotation/winding-invariant.
      (2 to 5).foreach { i =>
        assert(ra.isNullAt(i) == rb.isNullAt(i), s"fid=$fid null bbox parity")
        if (!ra.isNullAt(i))
          assert(ra.getDouble(i) == rb.getDouble(i), s"fid=$fid bbox col $i")
      }
      // containment is too (Spatial.regionFromRings = the j10 path).
      val ringsA = rowRings(ra, 1); val ringsB = rowRings(rb, 1)
      if (ringsA.exists(_.size >= 3)) {
        val regA = region(ringsA)
        val regB = region(ringsB)
        (0 until 15).foreach { k =>
          val (px, py) = sample(Gen.zip(coordGen, coordGen), 7000L + fid * 50 + k)
          assert(regA.contains(px, py) == regB.contains(px, py),
            s"fid=$fid point=($px,$py) rotation/winding changed containment")
        }
      }
    }
  }
}
