package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.GraftFunctions
import graft.geo.{GeoIO, Memo}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import graft.h3.{H3, LatLng}

/** Distributed point-in-polygon spatial join, Spark-first: H3 cells as the
  * spatial bucketing key (generate-then-equi-join, the same shape the
  * reference uses for feature↔hexagon pairing) followed by an exact JTS
  * containment filter.
  *
  *   polygons → cover cells (explode)   ┐
  *                                      ├─ equi-join on cell → exact filter
  *   points   → containing cell         ┘
  *
  * At scale this is one shuffle of each side on the int64 cell key — never
  * a cartesian product — and the exact filter runs only on cell-collocated
  * candidates. Skewed cells (a polygon covering many points' cells) are
  * ordinary join skew: AQE skew-join splits them.
  *
  * The cover set must be a SUPERSET of the polygon's true cell coverage or
  * containment pairs are silently lost: centroid polyfill alone misses
  * boundary slivers, so the cover is polyfill ∪ ring-edge path cells.
  */
object SpatialJoin {

  /** Superset cover: centroid polyfill plus path cells along every ring
    * edge (outer and holes), so boundary-sliver cells are candidates too.
    */
  def coverCells(wkt: String, res: Int): Array[Long] = {
    if (wkt == null) return null
    val g = GeoIO.parseString(wkt)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    out ++= GraftFunctions.indexGeometry(g, res)
    def ringPath(cs: Array[org.locationtech.jts.geom.Coordinate]): Unit = {
      var i = 1
      while (i < cs.length) {
        // geodesic sampling, NOT the IJ-space line: the cover must contain
        // every cell the ring edge passes through (superset invariant);
        // the grid-space line may cut corners relative to the arc
        out ++= H3.geodesicPathCells(LatLng.degrees(cs(i - 1).y, cs(i - 1).x),
          LatLng.degrees(cs(i).y, cs(i).x), res)
        i += 1
      }
    }
    def walk(geom: org.locationtech.jts.geom.Geometry): Unit = geom match {
      case p: org.locationtech.jts.geom.Polygon =>
        ringPath(p.getExteriorRing.getCoordinates)
        (0 until p.getNumInteriorRing).foreach(i =>
          ringPath(p.getInteriorRingN(i).getCoordinates))
      case multi if multi.getGeometryType.startsWith("Multi") ||
          multi.getGeometryType == "GeometryCollection" =>
        (0 until multi.getNumGeometries).foreach(i => walk(multi.getGeometryN(i)))
      case _ => () // Point/LineString leafs: indexGeometry already covered them
    }
    walk(g)
    out.toArray
  }

  /** Candidates arrive cell-clustered, so the same polygon repeats: a
    * per-thread LRU keyed by the row's WKT bytes holds the PREPARED geometry
    * (JTS PreparedPolygon.contains is ~4× a plain contains on repeats). A
    * hit allocates nothing; a miss pays `copy()` + parse + prepare.
    */
  private val preparedCache = new Memo.PerThread[UTF8String, PreparedGeometry](512)

  def containsPointU(wkt: UTF8String, lat: Double, lng: Double): Boolean = {
    var p = preparedCache.get(wkt)
    if (p == null) {
      val owned = wkt.copy() // detach from the reused row buffer
      p = preparedCache.put(owned,
        PreparedGeometryFactory.prepare(GraftFunctions.parseGeomCached(owned)))
    }
    p.contains(GeoIO.point(lng, lat))
  }

  /** points(latCol, lngCol) ⨝ polygons(wktCol) by containment. Both inputs
    * keep all their columns; the cell key is dropped from the output.
    */
  def pointsInPolygons(points: DataFrame, lat: Column, lng: Column,
                       polygons: DataFrame, wkt: Column, res: Int): DataFrame = {
    val spark = points.sparkSession
    GraftFunctions.register(spark)
    // the cover computation is ms-per-polygon CPU work: a small input (one
    // parquet file) scans as one partition and would cover every polygon
    // serially in a single task — fan out first (no-op when the scan
    // already has splits >= cores, i.e. at cluster scale)
    def fan(df: DataFrame) = graft.engine.Fanout.ensure(spark, df)
    // explode(array_compact(array(...))) instead of a bare withColumn: the
    // inner join implies isnotnull(_cell), and PushDownPredicates would
    // substitute the whole h3_latlng_cell chain into a filter BELOW
    // the fan-out exchange — recomputing it serially inside the single scan
    // task (measured: a 1-task 1.3 s stage on geo_spatial_join at sf0.1). A
    // Generate can't be pushed through an Exchange, so the cell is computed
    // exactly once, after the fan-out, and null cells drop here.
    // sortWithinPartitions on the cell (a LOCAL sort — no shuffle) makes
    // same-cell probes contiguous on the join's stream side, so the
    // prepared-geometry LRU actually hits: a cell's candidate polygons
    // repeat back-to-back instead of being scattered across the partition
    // (measured: containment-stage CPU drops ~3× at sf0.1).
    def ptsWithCell(df: DataFrame) = df.withColumn("_cell",
      explode(expr(
        s"array_compact(array(h3_unhex(h3_latlng_cell(${lat.toString}, ${lng.toString}, $res))))")))
    val polys = fan(polygons).withColumn("_cell",
      explode(callUDF("st_cover_cells", wkt, lit(res))))
    // codegen filter: the row-backed UTF8String keys the prepared LRU
    // directly, no String materialization per candidate probe. It is NULL
    // on a NULL wkt or coordinate, so Spark infers isnotnull filters on
    // those inputs at the scans
    val containsF = expr(
      s"st_contains_point(${wkt.toString}, ${lat.toString}, ${lng.toString})")
    // Build-side choice by MEASURED size, not the planner's file-size
    // estimate: the cover explode inflates the polygon side ~30-60× (one
    // row per cover cell, each dragging the full WKT string), which the
    // size estimate cannot see — auto-broadcast then collects and
    // single-threadedly builds a relation tens of times larger than the
    // points side (~140 MB vs ~6 MB at sf0.1). When a memoized capped
    // probe proves the point side small, broadcast IT: the polygon-cover
    // rows stream, each cover cell probes the point hash table, and the
    // prepared-geometry LRU hits naturally because a polygon's cover
    // cells leave the explode consecutively. Past the cap (points never
    // broadcast at 100 TB) the original shape stays: polygons build side,
    // local sort on the cell so same-cell probes are contiguous.
    if (Dedup.fitsBroadcast(points))
      // the broadcast side stays FANNED even though it is about to be
      // collected: the executeCollect of the broadcast subtree serializes
      // every row, and 32 tasks doing that in parallel beat one scan task
      // doing it serially (r12 A/B min-of-7: 1.36 s fanned vs 1.71 s
      // bare). At cluster scale the fan-out is a no-op (splits >= cores).
      polys.join(broadcast(ptsWithCell(fan(points))), Seq("_cell"))
        .where(containsF).drop("_cell")
    else
      ptsWithCell(fan(points)).sortWithinPartitions("_cell")
        .join(polys, Seq("_cell"))
        .where(containsF).drop("_cell")
  }
}
