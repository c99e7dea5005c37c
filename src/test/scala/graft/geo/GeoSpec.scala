package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import graft.h3.{H3, H3Index}

class GeoSpec extends AnyFunSuite {

  test("WKT/GeoJSON/WKB round trips") {
    val wkt = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    val g = GeoIO.fromWkt(wkt)
    assert(GeoIO.fromGeoJson(GeoIO.toGeoJson(g)).equalsExact(g, 1e-12))
    assert(GeoIO.fromWkbHex(GeoIO.toWkbHex(g)).equalsExact(g, 1e-12))
    val line = GeoIO.fromWkt("LINESTRING (0 0, 1 1, 2 0)")
    assert(GeoIO.fromGeoJson(GeoIO.toGeoJson(line)).equalsExact(line, 1e-12))
    val mp = GeoIO.fromWkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((2 2, 3 2, 3 3, 2 2)))")
    assert(GeoIO.fromGeoJson(GeoIO.toGeoJson(mp)).equalsExact(mp, 1e-12))
    // WKT -> geometry is bit-exact: a coordinate 1 ulp off a short
    // decimal, and one needing 17 significant digits, which the default
    // 16-digit formatter rounds away
    for ((x, y) <- Seq((-174.375, -69.17500000000001),
                       (-146.27285751820568, 0.30099661052837234))) {
      val pt = GeoIO.point(x, y)
      val back = GeoIO.fromWkt(GeoIO.toWkt(pt)).getCoordinate
      assert(back.x == x && back.y == y, GeoIO.toWkt(pt))
      assert(GeoIO.fromGeoJson(GeoIO.toGeoJson(pt)).equalsExact(pt, 1e-12))
      assert(GeoIO.fromWkbHex(GeoIO.toWkbHex(pt)).equalsExact(pt))
    }
  }

  test("WKT at rest round-trips 100k random points bit-exact, small magnitudes too") {
    val rnd = new scala.util.Random(20261018L)
    // lon/lat range, and ordinates near the prime meridian and the equator
    // (|x| < 0.1 and < 1e-3), where a fixed fraction width runs out of
    // significant digits
    val scales = Array(180.0, 0.1, 1e-3)
    val lost = (0 until 100000).flatMap { i =>
      val x = (rnd.nextDouble() * 2 - 1) * scales(i % 3)
      val y = (rnd.nextDouble() * 2 - 1) * scales((i / 3) % 3) / 2
      val wkt = GeoIO.toWkt(GeoIO.point(x, y))
      val c = GeoIO.fromWkt(wkt).getCoordinate
      if (c.x == x && c.y == y) None else Some(s"($x, $y) -> $wkt")
    }
    assert(lost.isEmpty, s"${lost.size} lost, e.g. ${lost.take(3).mkString("; ")}")
    // ordinary values print as before, in plain notation
    assert(GeoIO.toWkt(GeoIO.point(-122.42, 0.005)) == "POINT (-122.42 0.005)")
    assert(GeoIO.toWkt(GeoIO.point(-6.520574964241632E-4, 1e-7)) ==
      "POINT (-0.0006520574964241632 0.0000001)")
  }

  test("encoding sniff follows the reference rules") {
    assert(GeoIO.sniffString("POINT (1 2)") == GeoIO.Wkt)
    assert(GeoIO.sniffString("""{"type":"Point","coordinates":[1,2]}""") == GeoIO.GeoJson)
    assert(GeoIO.sniffString("0101000000000000000000F03F0000000000000040") == GeoIO.StringWkb)
    val p = GeoIO.parseString("0101000000000000000000F03F0000000000000040")
    assert(p.getGeometryType == "Point")
    assert(p.getCoordinate.x == 1.0 && p.getCoordinate.y == 2.0)
  }

  test("makeValid repairs a bow-tie and keeps area") {
    val bowtie = GeoIO.fromWkt("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))")
    assert(!GeoIO.isValid(bowtie))
    val fixed = GeoIO.makeValid(bowtie)
    assert(fixed.isDefined && GeoIO.isValid(fixed.get))
    assert(math.abs(fixed.get.getArea - 2.0) < 1e-9) // two unit triangles
  }

  test("geodesic inverse matches published WGS84 arcs") {
    // one degree along the equator = a * pi/180
    val eq = GeodesicExact.distance(0, 0, 0, 1)
    assert(math.abs(eq - 111319.49079327358) < 1e-3, s"equator: $eq")
    // quarter meridian (equator to pole)
    val qm = GeodesicExact.distance(0, 0, 90, 0)
    assert(math.abs(qm - 10001965.7293) < 1.0, s"quarter meridian: $qm")
    // symmetry
    assert(math.abs(
      GeodesicExact.distance(37.7, -122.4, 40.7, -74.0) -
      GeodesicExact.distance(40.7, -74.0, 37.7, -122.4)) < 1e-6)
  }

  test("antipodal lengths: the equatorial antipode is the half meridian") {
    // twice the published quarter meridian (10,001,965.7293 m); the
    // shortest path between equatorial antipodes runs over a pole
    val halfMeridian = 20003931.4586
    val antipode = "LINESTRING (0 0, 180 0)"
    val m = GeodesicExact.lengthMeters(GeoIO.fromWkt(antipode))
    assert(math.abs(m - halfMeridian) < 1e-3, s"lengthMeters: $m")
    val km = graft.engine.GraftFunctions.lengthSpheroidKm(
      org.apache.spark.unsafe.types.UTF8String.fromString(antipode))
    assert(math.abs(km * 1000.0 - halfMeridian) < 1e-3, s"st_length_spheroid_km: $km")
    // just short of the antipode: within 1 km below the half meridian
    val near = GeodesicExact.lengthMeters(GeoIO.fromWkt("LINESTRING (0 0, 179.9 0)"))
    assert(near < halfMeridian && near > halfMeridian - 1000.0, s"179.9: $near")
  }

  test("hexagon areas match reference README goldens") {
    // /root/reference/README.md:280-284, 306-313, 334-341
    val goldens = Seq(
      "840e4d3ffffffff" -> 2004.4344472440796,
      "840e4d7ffffffff" -> 2011.5201608518523,
      "86446cae7ffffff" -> 40.55609958082783,
      "86446ca57ffffff" -> 40.58272492454886,
      "8644697b7ffffff" -> 40.12018482559633,
      "86446945fffffff" -> 40.145249906240224
    )
    goldens.foreach { case (cell, want) =>
      val got = H3Geo.cellAreaKm2(cell)
      val rel = math.abs(got - want) / want
      // exact ellipsoidal area (GeodesicExact): measured 4e-13..4e-10
      // relative vs the Sedona/GeographicLib-computed goldens
      assert(rel < 5e-9, f"$cell: got $got%.6f want $want rel=$rel%.2e")
    }
  }

  test("res-0 cell areas tile the earth") {
    val total = (0 until 122).map { bc =>
      val h = H3Index.setBaseCell(H3Index.setResolution(H3Index.Init, 0), bc)
      H3Geo.cellAreaKm2(h)
    }.sum
    val earth = 510065621.724 // WGS84 surface area km²
    assert(math.abs(total - earth) / earth < 1e-6, s"total $total")
  }

  test("parent partition key helper") {
    assert(H3Geo.parentRes3("840e4d3ffffffff") == "830e4dfffffffff")
  }
}
