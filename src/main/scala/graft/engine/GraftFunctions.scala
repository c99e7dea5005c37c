package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry
import graft.h3.{H3, H3Index, LatLng}
import graft.geo.{GeoIO, Geodesic, H3Geo, Memo}

/** The engine's scalar-function surface, registered for both the DataFrame
  * API and SQL (`expr("...")`) — the role Sedona's function registry plays in
  * the reference (SURVEY.md §2.5-2.6). All functions are JVM-native Scala
  * UDFs over the graft.h3/graft.geo cores: no Python workers, no Arrow
  * serialization tax (BASELINE.md "Implication" note).
  *
  * Geometry at rest is WKT (or GeoJSON/hex-WKB, sniffed), matching the
  * reference's string round-tripping between every Sedona call
  * (h3_indexer.py:197-204).
  */
object GraftFunctions {

  // ---- plain-Scala implementations (usable without Spark, unit-testable)

  def parseGeom(s: String): Geometry = GeoIO.parseString(s)

  /** U1 index_shape: geometry (any string encoding) + res → covering cells.
    * Point → containing cell; LineString → cells along the path between
    * consecutive vertices; Polygon → centroid polyfill; Multi* → union.
    * (h3-pyspark 1.2.6 indexing semantics, SURVEY.md §2.6 U1.)
    */
  def indexShape(geomStr: String, res: Int): Array[String] = {
    if (geomStr == null) return null
    val g = parseGeom(geomStr)
    indexGeometry(g, res).map(H3Index.toHexString)
  }

  def indexGeometry(g: Geometry, res: Int): Array[Long] = {
    import org.locationtech.jts.geom._
    g match {
      case p: Point =>
        Array(H3.latLngToCell(p.getY, p.getX, res))
      case l: LineString =>
        val cs = l.getCoordinates
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        var i = 1
        while (i < cs.length) {
          H3.pathCells(LatLng.degrees(cs(i - 1).y, cs(i - 1).x),
            LatLng.degrees(cs(i).y, cs(i).x), res).foreach(out += _)
          i += 1
        }
        out.toArray
      case p: Polygon =>
        val outer = p.getExteriorRing.getCoordinates
          .map(c => LatLng.degrees(c.y, c.x))
        val holes = (0 until p.getNumInteriorRing).map(i =>
          p.getInteriorRingN(i).getCoordinates.map(c => LatLng.degrees(c.y, c.x)))
        H3.polygonToCells(outer.dropRight(1), holes.map(_.dropRight(1)), res)
      case multi =>
        (0 until multi.getNumGeometries)
          .flatMap(i => indexGeometry(multi.getGeometryN(i), res))
          .distinct.toArray
    }
  }

  /** U2: null-safe res-3 parent (partition key). */
  def parentRes3(ix: String): String =
    if (ix == null) null else H3Geo.parentRes3(ix)

  /** U3: cell boundary as WKT polygon (declared StringType — the reference's
    * BinaryType declaration is a latent bug we do not reproduce,
    * SURVEY.md §2.6 U3).
    */
  def cellToWkt(ix: String): String = if (ix == null) null else H3Geo.cellToWkt(ix)

  def cellAreaKm2(ix: String): java.lang.Double =
    if (ix == null) null else H3Geo.cellAreaKm2(ix)

  def latLngCell(lat: java.lang.Double, lng: java.lang.Double, res: Int): String =
    if (lat == null || lng == null) null
    else H3Index.toHexString(H3.latLngToCell(lat, lng, res))

  /** Per-thread LRU of parsed feature geometries keyed by the row's WKT
    * bytes: the (feature, cell) rows repeat each feature's WKT once per
    * covering cell, and a hit decodes nothing. A miss stores a `copy()`.
    */
  private val parsed = new Memo.PerThread[UTF8String, Geometry](48)

  def parseGeomCached(s: UTF8String): Geometry = {
    val hit = parsed.get(s)
    if (hit != null) hit else parsed.put(s.copy(), parseGeom(s.toString))
  }

  def parseGeomCached(s: String): Geometry = parseGeomCached(UTF8String.fromString(s))

  /** Planar ratio numerator/denominator in one JVM call:
    * area(g ∩ hex) / area(g) — the PCT_AREA ratio (h3_indexer.py:257-263).
    */
  def ratioArea(geomWkt: String, hexWkt: String): java.lang.Double = {
    if (geomWkt == null || hexWkt == null) return null
    val g = parseGeomCached(geomWkt)
    val denom = g.getArea
    if (denom == 0.0) return 0.0
    g.intersection(parseGeom(hexWkt)).getArea / denom
  }

  /** ratio against a cell given by raw long index: the hexagon boundary
    * comes from the per-executor memo as a parsed JTS polygon — no hexagon
    * WKT is built or parsed per (feature, cell) pair, and no hex string
    * travels through the rows.
    */
  def ratioAreaCell(g: Geometry, cell: Long): Double = {
    val denom = g.getArea
    if (denom == 0.0) return 0.0
    val info = H3Geo.cellInfoCached(cell)
    // convex cells take the exact planar Sutherland–Hodgman clip (~100×
    // cheaper than the overlay; agreement spec-gated at 1e-9 relative);
    // folded/degenerate cells and exotic geometries fall back to JTS.
    // Past GeoSegIndex.SegmentThreshold the clip consults the feature's
    // segment index first: interior/exterior cells skip the full ring walk
    // (a giant ring × its million cells is otherwise quadratic).
    info.clip match {
      case Some(r) =>
        val idx = graft.geo.GeoSegIndex.cached(g)
        val a = if (idx != null && !idx.isLine) graft.geo.GeoSegIndex.areaIn(r, g, idx)
                else graft.geo.ConvexClip.areaIn(r, g)
        if (a.isNaN) g.intersection(info.poly).getArea / denom else a / denom
      case None => g.intersection(info.poly).getArea / denom
    }
  }

  def ratioLengthCell(g: Geometry, cell: Long): Double = {
    val denom = g.getLength
    if (denom == 0.0) return 0.0
    val info = H3Geo.cellInfoCached(cell)
    info.clip match {
      case Some(r) =>
        // indexed walk above GeoSegIndex.SegmentThreshold — BIT-IDENTICAL
        // to the full walk (excluded segments clip to exact 0.0)
        val idx = graft.geo.GeoSegIndex.cached(g)
        val l = if (idx != null && idx.isLine) graft.geo.GeoSegIndex.lengthIn(r, idx)
                else graft.geo.ConvexClip.lengthIn(r, g)
        if (l.isNaN) g.intersection(info.poly).getLength / denom else l / denom
      case None => g.intersection(info.poly).getLength / denom
    }
  }

  /** length(g ∩ hex) / length(g) — the PCT_LENGTH ratio
    * (h3_indexer.py:193-199).
    */
  def ratioLength(geomWkt: String, hexWkt: String): java.lang.Double = {
    if (geomWkt == null || hexWkt == null) return null
    val g = parseGeom(geomWkt)
    val denom = g.getLength
    if (denom == 0.0) return 0.0
    g.intersection(parseGeom(hexWkt)).getLength / denom
  }

  def areaSpheroidKm2(wkt: String): java.lang.Double =
    if (wkt == null) null else Geodesic.areaSqMeters(parseGeom(wkt)) / 1e6

  def lengthSpheroidKm(wkt: String): java.lang.Double =
    if (wkt == null) null else Geodesic.lengthMeters(parseGeom(wkt)) / 1000.0

  def makeValidWkt(s: String): String =
    if (s == null) null
    else try GeoIO.makeValid(parseGeom(s)).map(GeoIO.toWkt).orNull
    catch {
      // malformed/unparseable encodings are irreparable — drop (and let
      // Validator.quarantine surface them) rather than failing the job on
      // one bad row; at corpus scale malformed rows are a certainty
      case scala.util.control.NonFatal(_) => null
    }

  // --------------------------------------------------------- registration

  /** Register every function for SQL/expr use (Sedona-registry parity).
    * Also injects the native codegen expressions so the whole surface is
    * available from one call.
    */
  def register(spark: SparkSession): Unit = SessionMemo.registerOnce(spark, "graftfunctions") {
    Expressions.register(spark)
    val u = spark.udf
    u.register("h3_index_shape", (g: String, res: Int) => indexShape(g, res))
    u.register("h3_parent_res3", (ix: String) => parentRes3(ix))
    u.register("h3_parent", (ix: String, res: Int) =>
      if (ix == null) null else H3.cellToParentString(ix, res))
    u.register("h3_to_wkt", (ix: String) => cellToWkt(ix))
    u.register("h3_cell_area_km2", (ix: String) => cellAreaKm2(ix))
    u.register("h3_cell_info", (ix: String) =>
      if (ix == null) null else H3Geo.cellInfo(ix))
    u.register("h3_latlng_cell",
      (lat: java.lang.Double, lng: java.lang.Double, res: Int) => latLngCell(lat, lng, res))
    u.register("st_ratio_area", (a: String, b: String) => ratioArea(a, b))
    u.register("st_ratio_length", (a: String, b: String) => ratioLength(a, b))
    u.register("st_ratio_area_cell", (a: String, c: java.lang.Long) =>
      if (a == null || c == null) null
      else java.lang.Double.valueOf(ratioAreaCell(parseGeomCached(a), c.longValue)))
    u.register("st_ratio_length_cell", (a: String, c: java.lang.Long) =>
      if (a == null || c == null) null
      else java.lang.Double.valueOf(ratioLengthCell(parseGeomCached(a), c.longValue)))
    u.register("h3_cell_area_cached", (c: java.lang.Long) =>
      if (c == null) null else java.lang.Double.valueOf(H3Geo.cellAreaKm2Cached(c.longValue)))
    u.register("h3_polyfill_est", (g: String, res: Int) =>
      // null-tolerant like the native expressions' nullSafeEval: the
      // shouldSplit max-estimate probe must not NPE on a dataset whose
      // null geometries the legacy single-generator path simply skipped
      if (g == null) 0.0 else PolySplit.estimateCells(parseGeomCached(g), res))
    u.register("st_area_spheroid_km2", (s: String) => areaSpheroidKm2(s))
    u.register("st_length_spheroid_km", (s: String) => lengthSpheroidKm(s))
    u.register("st_astext", (s: String) =>
      if (s == null) null else GeoIO.toWkt(parseGeom(s)))
    u.register("st_asgeojson", (s: String) =>
      if (s == null) null else GeoIO.toGeoJson(parseGeom(s)))
    u.register("st_point", (lon: java.lang.Double, lat: java.lang.Double) =>
      if (lon == null || lat == null) null else GeoIO.toWkt(GeoIO.point(lon, lat)))
    u.register("st_x", (s: String) =>
      if (s == null) null else java.lang.Double.valueOf(parseGeom(s).getCoordinate.x))
    u.register("st_y", (s: String) =>
      if (s == null) null else java.lang.Double.valueOf(parseGeom(s).getCoordinate.y))
    u.register("st_isvalid", (s: String) =>
      if (s == null) null.asInstanceOf[java.lang.Boolean]
      else java.lang.Boolean.valueOf(GeoIO.isValid(parseGeom(s))))
    u.register("st_makevalid", (s: String) => makeValidWkt(s))
    u.register("st_area", (s: String) =>
      if (s == null) null else java.lang.Double.valueOf(parseGeom(s).getArea))
    u.register("st_length", (s: String) =>
      if (s == null) null else java.lang.Double.valueOf(parseGeom(s).getLength))
    u.register("st_intersection", (a: String, b: String) =>
      if (a == null || b == null) null
      else GeoIO.toWkt(parseGeom(a).intersection(parseGeom(b))))
    // hierarchy/traversal surface (beyond the reference's own usage; the
    // standard H3 API a user of an H3 engine expects)
    u.register("h3_grid_disk", (c: java.lang.Long, k: Int) =>
      if (c == null) null else H3.gridDisk(c.longValue, k))
    u.register("h3_grid_distance", (a: java.lang.Long, b: java.lang.Long) =>
      if (a == null || b == null) null.asInstanceOf[java.lang.Integer]
      else Int.box(H3.gridDistance(a.longValue, b.longValue)))
    u.register("h3_is_valid", (c: java.lang.Long) =>
      if (c == null) null.asInstanceOf[java.lang.Boolean]
      else java.lang.Boolean.valueOf(H3Index.isValidCell(c.longValue)))
    u.register("h3_is_pentagon", (c: java.lang.Long) =>
      if (c == null) null.asInstanceOf[java.lang.Boolean]
      else java.lang.Boolean.valueOf(H3Index.isPentagon(c.longValue)))
    u.register("h3_children", (c: java.lang.Long, res: Int) =>
      if (c == null) null else H3.cellToChildren(c.longValue, res))
    u.register("h3_compact", (cells: Array[Long]) =>
      if (cells == null) null else H3.compactCells(cells))
    u.register("h3_uncompact", (cells: Array[Long], res: Int) =>
      if (cells == null) null else H3.uncompactCells(cells, res))
    // coverage set → dissolved boundary geometry (the h3 API's
    // cellsToMultiPolygon): union of the cell polygons via JTS overlay,
    // emitted as WKT (POLYGON or MULTIPOLYGON as the union dictates)
    u.register("h3_cells_to_multipolygon", (cells: Array[Long]) =>
      if (cells == null) null
      else if (cells.isEmpty) "MULTIPOLYGON EMPTY"
      else {
        val polys = cells.map(c => GeoIO.fromWkt(H3Geo.cellToWkt(c)))
        val union = org.locationtech.jts.operation.union.UnaryUnionOp
          .union(java.util.Arrays.asList(polys: _*))
        GeoIO.toWkt(union)
      })
  }
}
