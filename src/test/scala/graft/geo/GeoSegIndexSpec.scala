package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.io.WKTReader
import scala.util.Random
import graft.h3.H3

/** The segment index must change NOTHING observable below threshold and —
  * above it — match the full walk bit-for-bit on lengths and to 1e-9
  * relative on areas (interior cells swap a clip reconstruction for the
  * hexagon's own shoelace), across every cell the geometry actually
  * touches.
  */
class GeoSegIndexSpec extends AnyFunSuite {

  private val reader = new WKTReader()

  /** Jittered many-vertex ring around (lat, lng) — radiusKm, n vertices. */
  private def ringWkt(rnd: Random, lat: Double, lng: Double, radiusKm: Double,
                      n: Int, close: Boolean): String = {
    val c = graft.h3.LatLng.degrees(lat, lng)
    val pts = (0 until n).map { i =>
      val az = 2 * math.Pi * i / n
      val r = radiusKm * (0.75 + 0.5 * rnd.nextDouble()) / H3.EarthRadiusKm
      val p = c.destination(az, r)
      f"${math.toDegrees(p.lng)}%.7f ${math.toDegrees(p.lat)}%.7f"
    }
    if (close) (pts :+ pts.head).mkString(", ") else pts.mkString(", ")
  }

  test("below SegmentThreshold no index builds — legacy path untouched") {
    val g = reader.read("LINESTRING (10 50, 11 51, 12 50.5)")
    assert(GeoSegIndex.cached(g) == null)
    val p = reader.read("POLYGON ((10 50, 10.5 50, 10.5 50.5, 10 50.5, 10 50))")
    assert(GeoSegIndex.cached(p) == null)
    assert(GeoSegIndex.cached(reader.read(
      "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))")) == null)
  }

  test("indexed lengthIn is BIT-IDENTICAL to the full walk over every touched cell") {
    val rnd = new Random(31)
    // a 600-vertex wiggly line ~100 km long
    val c = graft.h3.LatLng.degrees(47.0, 9.0)
    val pts = (0 until 600).scanLeft(c) { (p, _) =>
      p.destination(rnd.nextDouble() * 2 * math.Pi * 0.25 + 0.9,
        (0.05 + 0.15 * rnd.nextDouble()) / H3.EarthRadiusKm)
    }
    val wkt = "LINESTRING (" + pts.map(p =>
      f"${math.toDegrees(p.lng)}%.7f ${math.toDegrees(p.lat)}%.7f").mkString(", ") + ")"
    val g = reader.read(wkt)
    val idx = GeoSegIndex.cached(g)
    assert(idx != null && idx.isLine)
    val cells = graft.engine.GraftFunctions.indexGeometry(g, 9)
    assert(cells.length > 100)
    var nonZero = 0
    cells.foreach { cell =>
      val info = H3Geo.cellInfoCached(cell)
      val r = info.clip.get
      val full = ConvexClip.lengthIn(r, g)
      val fast = GeoSegIndex.lengthIn(r, idx)
      assert(java.lang.Double.doubleToLongBits(full) ===
        java.lang.Double.doubleToLongBits(fast), s"cell $cell")
      if (full > 0) nonZero += 1
    }
    assert(nonZero > 50)
  }

  test("indexed areaIn: boundary cells exact, interior cells within 1e-9 relative") {
    val rnd = new Random(97)
    val wkt = s"POLYGON ((${ringWkt(rnd, 46.0, 8.0, 25, 700, close = true)}))"
    val g = reader.read(wkt)
    val idx = GeoSegIndex.cached(g)
    assert(idx != null && !idx.isLine)
    val cells = graft.engine.GraftFunctions.indexGeometry(g, 8)
    assert(cells.length > 300)
    var interior = 0; var boundary = 0
    cells.foreach { cell =>
      val info = H3Geo.cellInfoCached(cell)
      val r = info.clip.get
      val full = ConvexClip.areaIn(r, g)
      val fast = GeoSegIndex.areaIn(r, g, idx)
      if (java.lang.Double.doubleToLongBits(full) ==
          java.lang.Double.doubleToLongBits(fast)) boundary += 1
      else {
        assert(math.abs(full - fast) <= 1e-9 * math.max(full, fast),
          s"cell $cell full=$full fast=$fast")
        interior += 1
      }
    }
    assert(interior > 100, s"interior=$interior boundary=$boundary — fast path never engaged")
    assert(boundary > 50, s"interior=$interior boundary=$boundary — full clip never engaged")
    // cells fully OUTSIDE the polygon but near it: fast path must say 0
    val outside = H3.neighbors(cells.head).filterNot(cells.contains)
    outside.take(3).foreach { cell =>
      val info = H3Geo.cellInfoCached(cell)
      val r = info.clip.get
      assert(GeoSegIndex.areaIn(r, g, idx) === ConvexClip.areaIn(r, g), s"cell $cell")
    }
  }

  test("MULTILINESTRING: indexed lengthIn stays bit-identical (per-component accumulation)") {
    val rnd = new Random(63)
    def leg(lat: Double, lng: Double, n: Int): String = {
      val c = graft.h3.LatLng.degrees(lat, lng)
      val pts = (0 until n).scanLeft(c) { (p, _) =>
        p.destination(rnd.nextDouble() * 2 * math.Pi * 0.3 + 0.7,
          (0.05 + 0.1 * rnd.nextDouble()) / H3.EarthRadiusKm)
      }
      "(" + pts.map(p =>
        f"${math.toDegrees(p.lng)}%.7f ${math.toDegrees(p.lat)}%.7f").mkString(", ") + ")"
    }
    // three legs, one of which re-crosses the first's cells (shared area)
    val g = reader.read(s"MULTILINESTRING (${leg(47.0, 9.0, 300)}, " +
      s"${leg(47.001, 9.001, 300)}, ${leg(46.99, 8.99, 200)})")
    val idx = GeoSegIndex.cached(g)
    assert(idx != null && idx.isLine && idx.compEnds.length == 3)
    val cells = graft.engine.GraftFunctions.indexGeometry(g, 9)
    assert(cells.length > 50)
    cells.foreach { cell =>
      val r = H3Geo.cellInfoCached(cell).clip.get
      val full = ConvexClip.lengthIn(r, g)
      val fast = GeoSegIndex.lengthIn(r, idx)
      assert(java.lang.Double.doubleToLongBits(full) ===
        java.lang.Double.doubleToLongBits(fast), s"cell $cell")
    }
  }

  test("GeometryCollection of polygons stays on the legacy path (no prepared-geometry crash)") {
    val rnd = new Random(8)
    val a = ringWkt(rnd, 50.0, 10.0, 20, 300, close = true)
    val b = ringWkt(rnd, 50.5, 10.5, 20, 300, close = true)
    val g = reader.read(s"GEOMETRYCOLLECTION (POLYGON (($a)), POLYGON (($b)))")
    assert(GeoSegIndex.cached(g) == null) // >256 segments, but collections never index
    // the ratio kernel must still answer through the legacy clip
    val cell = H3.latLngToCell(50.0, 10.0, 8)
    val ratio = graft.engine.GraftFunctions.ratioAreaCell(
      graft.engine.GraftFunctions.parseGeomCached(g.toText), cell)
    assert(!ratio.isNaN && ratio >= 0.0)
  }

  test("polygon with a hole: interior-of-hole cells report 0 like the full clip") {
    val rnd = new Random(5)
    val outer = ringWkt(rnd, 50.0, 10.0, 30, 400, close = true)
    val hole = ringWkt(rnd, 50.0, 10.0, 8, 200, close = true)
    val g = reader.read(s"POLYGON (($outer), ($hole))")
    val idx = GeoSegIndex.cached(g)
    assert(idx != null)
    // a cell at the hole's center: no boundary near, contains = false
    val cell = H3.latLngToCell(50.0, 10.0, 8)
    val info = H3Geo.cellInfoCached(cell)
    val r = info.clip.get
    val full = ConvexClip.areaIn(r, g)
    val fast = GeoSegIndex.areaIn(r, g, idx)
    // the full Sutherland–Hodgman clip of a 200-vertex hole ring leaves
    // ~1e-17 shoelace noise; the fast path's point test is an EXACT zero —
    // both inside the 1e-9 agreement contract
    assert(fast === 0.0)
    assert(math.abs(full) < 1e-12)
    // and the ratio kernel end-to-end returns the exact zero
    val ratioIdx = graft.engine.GraftFunctions.ratioAreaCell(
      graft.engine.GraftFunctions.parseGeomCached(g.toText), cell)
    assert(ratioIdx === 0.0)
  }

  test("end-to-end ratio kernels: indexed giant equals un-indexed clone to 1e-9 / bit-exact") {
    val rnd = new Random(11)
    val lineWkt = {
      val c = graft.h3.LatLng.degrees(40.0, -3.0)
      val pts = (0 until 500).scanLeft(c) { (p, _) =>
        p.destination(rnd.nextDouble() * 6.28, 0.1 / H3.EarthRadiusKm)
      }
      "LINESTRING (" + pts.map(p =>
        f"${math.toDegrees(p.lng)}%.7f ${math.toDegrees(p.lat)}%.7f").mkString(", ") + ")"
    }
    val g = reader.read(lineWkt)
    val cells = graft.engine.GraftFunctions.indexGeometry(g, 9).take(50)
    cells.foreach { cell =>
      val viaKernel = graft.engine.GraftFunctions.ratioLengthCell(
        graft.engine.GraftFunctions.parseGeomCached(lineWkt), cell)
      val info = H3Geo.cellInfoCached(cell)
      val manual = ConvexClip.lengthIn(info.clip.get, g) / g.getLength
      assert(java.lang.Double.doubleToLongBits(viaKernel.doubleValue) ===
        java.lang.Double.doubleToLongBits(manual), s"cell $cell")
    }
  }
}
