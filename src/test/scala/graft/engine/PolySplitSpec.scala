package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.util.Random
import graft.h3.{H3, LatLng}
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}

/** The split polyfill must be SET-IDENTICAL to the whole-polygon BFS —
  * that is the entire contract that lets the Indexer switch plans on a
  * size probe without touching results. Kernel-level equality is hammered
  * across shapes, latitudes, resolutions, and cover depths; then the
  * end-to-end Indexer plan is forced onto the split path and compared
  * row-for-row against the default path on the real sf0.001 input.
  */
class PolySplitSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  override def afterAll(): Unit = spark.stop()

  /** Jittered radial polygon (star/blob) around (lat, lng): radiusKm scaled
    * per-vertex by [1-jitter, 1+jitter] — non-convex, irregular edges.
    */
  private def blob(rnd: Random, lat: Double, lng: Double, radiusKm: Double,
                   nVerts: Int, jitter: Double): Array[LatLng] = {
    val c = LatLng.degrees(lat, lng)
    Array.tabulate(nVerts) { i =>
      val az = 2 * math.Pi * i / nVerts
      val r = radiusKm * (1 - jitter + 2 * jitter * rnd.nextDouble()) / H3.EarthRadiusKm
      c.destination(az, r)
    }
  }

  /** The rings as the JTS polygon (degree coordinates) the engine reads. */
  private def polygon(outer: Array[LatLng], holes: Seq[Array[LatLng]]): Polygon = {
    val gf = new GeometryFactory()
    def ring(r: Array[LatLng]) = gf.createLinearRing((r :+ r.head)
      .map(p => new Coordinate(math.toDegrees(p.lng), math.toDegrees(p.lat))))
    gf.createPolygon(ring(outer), holes.map(ring).toArray)
  }

  /** The whole-polygon BFS polyfill (the sentinel task's path). */
  private def bfsCells(g: Polygon, res: Int): Set[Long] =
    GraftFunctions.indexGeometry(g, res).toSet

  /** The split polyfill at cover depth `k`, through the descendant filter
    * `h3_cells_under` runs.
    */
  private def splitCells(g: Polygon, res: Int, k: Int): Set[Long] = {
    val (outer, holes) = PolySplit.rings(g)
    val cover = H3.polygonCoarseCover(outer, holes, k)
    // ancestor partition: no cell may arrive from two tasks
    val all = cover.flatMap(PolySplit.cellsUnder(g, _, res))
    assert(all.length === all.distinct.length, "cover tasks emitted a duplicate cell")
    all.toSet
  }

  test("split polyfill equals BFS polyfill: random blobs across latitudes, depths 1-4") {
    val rnd = new Random(1234)
    for (trial <- 1 to 25) {
      val lat = -72 + 144 * rnd.nextDouble()          // up to ±72°
      val lng = -180 + 360 * rnd.nextDouble()
      val res = 5 + rnd.nextInt(3)                    // 5..7
      val radius = 8 + 60 * rnd.nextDouble()          // ~10..1500 cells
      val g = polygon(blob(rnd, lat, lng, radius, 12 + rnd.nextInt(20), 0.45), Nil)
      val bfs = bfsCells(g, res)
      assert(bfs.nonEmpty, s"trial $trial produced an empty polyfill")
      for (d <- 1 to 4) {
        val k = math.max(0, res - d)
        assert(splitCells(g, res, k) === bfs,
          s"trial $trial lat=$lat lng=$lng res=$res depth=$d")
      }
    }
  }

  test("split polyfill equals BFS with holes and at high latitude") {
    val rnd = new Random(77)
    val outer = blob(rnd, 68.0, 25.0, 40, 24, 0.3)
    val hole = blob(rnd, 68.05, 25.1, 9, 10, 0.2)
    val res = 6
    val g = polygon(outer, Seq(hole))
    val bfs = bfsCells(g, res)
    val split = splitCells(g, res, res - 4)
    assert(bfs.nonEmpty && split === bfs)
  }

  test("geometry-level tasks/cellsUnder: sentinel below threshold, cover above, both exact") {
    val wkt = "POLYGON ((10 50, 10.6 50, 10.6 50.4, 10 50.4, 10 50))"
    val g = GraftFunctions.parseGeomCached(wkt)
    val res = 7
    val whole = GraftFunctions.indexGeometry(g, res).toSet
    assert(whole.size > 200)
    // below threshold: single sentinel, cellsUnder(sentinel) is the whole path
    assert(PolySplit.tasks(g, res).toSeq === Seq(PolySplit.Sentinel))
    assert(PolySplit.cellsUnder(g, PolySplit.Sentinel, res).toSet === whole)
    // force the switch: cover tasks, exact union, no duplicates
    PolySplit.withThreshold(10.0) {
      val tasks = PolySplit.tasks(g, res)
      assert(tasks.length > 3 && !tasks.contains(PolySplit.Sentinel))
      val split = tasks.flatMap(PolySplit.cellsUnder(g, _, res))
      assert(split.length === split.distinct.length)
      assert(split.toSet === whole)
    }
  }

  test("multipolygon with overlapping components: split equals the distinct whole-path") {
    val wkt = "MULTIPOLYGON (((10 50, 10.4 50, 10.4 50.3, 10 50.3, 10 50)), " +
      "((10.3 50.2, 10.7 50.2, 10.7 50.5, 10.3 50.5, 10.3 50.2)))"
    val g = GraftFunctions.parseGeomCached(wkt)
    val res = 7
    val whole = GraftFunctions.indexGeometry(g, res).toSet
    PolySplit.withThreshold(10.0) {
      val split = PolySplit.tasks(g, res).flatMap(PolySplit.cellsUnder(g, _, res))
      assert(split.length === split.distinct.length,
        "overlapping components must not double-emit a cell")
      assert(split.toSet === whole)
    }
  }

  test("antimeridian-crossing ring: estimate error is plan-quality-only " +
      "(split output identical to the whole path on both sides of the threshold)") {
    // ringAreaKm2 mis-estimates rings whose longitudes wrap ±180, and the
    // coarse cover is not a guaranteed superset for them (planar ray-cast
    // containment vs spherical edge seeding disagree near the wrap) — so
    // PolySplit keeps wrapping rings on the sentinel path at ANY
    // threshold. Pin that: output is identical to the whole path on both
    // sides of the threshold because the split plan never engages.
    val wkt = "POLYGON ((179.9 0.06, -179.9 0.06, -179.9 -0.06, 179.9 -0.06, 179.9 0.06))"
    val g = GraftFunctions.parseGeomCached(wkt)
    val res = 4
    val whole = GraftFunctions.indexGeometry(g, res).toSet
    // sentinel side: a huge threshold keeps it on the single-task path
    PolySplit.withThreshold(Double.MaxValue) {
      assert(PolySplit.tasks(g, res).toSeq === Seq(PolySplit.Sentinel))
      assert(PolySplit.cellsUnder(g, PolySplit.Sentinel, res).toSet === whole)
    }
    // forced side: even at threshold 1.0 the wrap detector holds sentinel
    PolySplit.withThreshold(1.0) {
      val tasks = PolySplit.tasks(g, res)
      assert(tasks.toSeq === Seq(PolySplit.Sentinel),
        "antimeridian-wrapping rings must never take the split plan")
      val split = tasks.flatMap(PolySplit.cellsUnder(g, _, res))
      assert(split.toSet === whole)
    }
    // a multipolygon with one wrapping component is held back as a WHOLE
    // (tasks are decided per geometry, never per component)
    val mixed = GraftFunctions.parseGeomCached(
      "MULTIPOLYGON (((179.9 0.06, -179.9 0.06, -179.9 -0.06, 179.9 -0.06, 179.9 0.06)), " +
        "((10 50, 10.4 50, 10.4 50.3, 10 50.3, 10 50)))")
    PolySplit.withThreshold(1.0) {
      assert(PolySplit.tasks(mixed, 7).toSeq === Seq(PolySplit.Sentinel))
    }
    // NON-NORMALIZED representation (179..181): crosses the antimeridian
    // with no >180° longitude jump — the out-of-range check must still
    // hold it on the sentinel path
    val nonNorm = GraftFunctions.parseGeomCached(
      "POLYGON ((179 0, 181 0, 181 0.1, 179 0.1, 179 0))")
    PolySplit.withThreshold(1.0) {
      assert(PolySplit.tasks(nonNorm, 7).toSeq === Seq(PolySplit.Sentinel))
    }
  }

  test("non-polygon geometries never split") {
    val line = GraftFunctions.parseGeomCached("LINESTRING (10 50, 11 51)")
    assert(PolySplit.tasks(line, 7).toSeq === Seq(PolySplit.Sentinel))
    assert(PolySplit.estimateCells(line, 7) === 0.0)
  }

  test("cell estimate is order-of-magnitude right") {
    // ~0.55° x 0.4° box at 50°N ≈ 0.55*111*cos(50°)*0.4*111 ≈ 1742 km²
    val g = GraftFunctions.parseGeomCached(
      "POLYGON ((10 50, 10.55 50, 10.55 50.4, 10 50.4, 10 50))")
    val est = PolySplit.estimateCells(g, 7)
    val actual = GraftFunctions.indexGeometry(g, 7).length.toDouble
    assert(est > actual / 2 && est < actual * 2, s"est=$est actual=$actual")
  }

  test("plan stability: at test SF the registered polygon plan has NO split stage") {
    // bench comparability gate: an estimate or threshold regression that
    // silently flips small inputs onto the two-phase plan would change
    // what every polygon bench number measures
    val dir = "/root/testdata/sf0.001"
    val p = graft.queries.GeoQueries.qs.find(_.name == "h3_index_polygons").get
      .fn(spark, dir).queryExecution.executedPlan.toString()
    assert(!p.contains("cellsUnderArray"), p.take(3000))
    assert(p.contains("indexShapeArray"), p.take(3000))
  }

  test("end-to-end: forced split Indexer plan matches the default plan on sf0.001") {
    import graft.queries.GeoQueries
    val dir = "/root/testdata/sf0.001"
    val default = GeoQueries.qs.find(_.name == "h3_index_polygons").get
      .fn(spark, dir).collect().map(_.toSeq).sortBy(_.toString)
    val forced =
      PolySplit.withThreshold(1.0) { // every polygon crosses it
        GeoQueries.qs.find(_.name == "h3_index_polygons").get
          .fn(spark, dir).collect().map(_.toSeq).sortBy(_.toString)
      }
    assert(forced.length === default.length)
    assert(forced.toSeq === default.toSeq)
  }
}
