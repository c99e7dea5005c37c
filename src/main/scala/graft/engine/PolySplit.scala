package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Geometry, GeometryCollection, Polygon}
import graft.h3.{H3, LatLng}

/** Split polyfill planning: a country-sized polygon polyfilled by the
  * single-row generator (`h3_index_shape` → explode) is ONE task —
  * the classic skew scale-killer once real-world geometries mix with small
  * ones. When any input polygon's ESTIMATED cell count exceeds
  * [[splitThreshold]], the Indexer switches the polygon stage to a
  * two-phase plan:
  *
  *   1. `h3_polyfill_tasks(geom, res)` explodes each polygon into
  *      its coarse ancestor cover at res − [[CoarseDepth]]
  *      (H3.polygonCoarseCover — a SUPERSET of every output cell's
  *      ancestor), or the single sentinel task 0 for small polygons;
  *   2. a hash repartition on (feature, task) spreads the units across
  *      executors;
  *   3. `h3_cells_under(geom, task, res)` enumerates each task's
  *      ≤ 7^CoarseDepth descendants and keeps centroid-inside cells —
  *      sentinel tasks run the whole-polygon BFS unchanged.
  *
  * Output is SET-IDENTICAL to the single-generator path (cover is an
  * ancestor superset; cellToChildren partitions cells by ancestor; the
  * centroid test is the same pointInPolygon) — PolySplitSpec asserts it,
  * and cell order never matters downstream (explode feeds group-bys).
  * Below the threshold the registered plans are byte-identical to before:
  * the switch is decided by a memoized max-estimate probe, mirroring the
  * SimHash block-key and LSH band-width corpus probes.
  */
object PolySplit {

  /** Estimated cells-per-polygon above which the split plan engages.
    * 16384 cells ≈ 7 split tasks minimum; below it the per-task overhead
    * (cover BFS + repartition) outweighs the skew it removes.
    */
  val DefaultSplitThreshold: Double = 16384.0

  /** Scoped override for the scale demo / specs: a shared mutable global
    * raced concurrently-running suites (a temporarily lowered threshold
    * could leak into another suite's plan construction). The override is
    * a DynamicVariable read ONLY at plan time — [[shouldSplit]] on the
    * driver thread, and the Indexer bakes the effective value into the
    * `h3_polyfill_tasks` expression as a literal, so executor
    * tasks never consult the global.
    */
  private val thresholdOverride =
    new scala.util.DynamicVariable[Double](DefaultSplitThreshold)

  /** The effective threshold on the CURRENT thread (plan-time reads only). */
  def splitThreshold: Double = thresholdOverride.value

  /** Run `body` with the threshold overridden on this thread (and threads
    * it spawns). Plans built inside the block capture the value; plans
    * built concurrently on other threads are unaffected.
    */
  def withThreshold[T](t: Double)(body: => T): T =
    thresholdOverride.withValue(t)(body)

  /** Each split task enumerates ≤ 7^CoarseDepth = 2401 candidate
    * centroids — a few ms of CPU, the work quantum the shuffle balances.
    */
  val CoarseDepth: Int = 4

  /** The "whole polygon in one task" sentinel (0 is not a valid H3 index:
    * mode bits zero).
    */
  val Sentinel: Long = 0L
  private val SentinelTasks = Array(Sentinel)

  /** Flattened polygon components, or null if the geometry contains any
    * non-polygon part (those stay on the sentinel path — indexGeometry
    * handles mixed collections).
    */
  private def polygonComponents(g: Geometry): Array[Polygon] = g match {
    case p: Polygon => Array(p)
    case gc: GeometryCollection =>
      val out = Array.newBuilder[Polygon]
      var i = 0
      while (i < gc.getNumGeometries) {
        gc.getGeometryN(i) match {
          case p: Polygon => out += p
          case sub: GeometryCollection =>
            val inner = polygonComponents(sub)
            if (inner == null) return null
            out ++= inner
          case _ => return null
        }
        i += 1
      }
      out.result()
    case _ => null
  }

  private[engine] def rings(p: Polygon): (Array[LatLng], Seq[Array[LatLng]]) = {
    val outer = p.getExteriorRing.getCoordinates
      .map(c => LatLng.degrees(c.y, c.x)).dropRight(1)
    val holes = (0 until p.getNumInteriorRing).map(i =>
      p.getInteriorRingN(i).getCoordinates
        .map(c => LatLng.degrees(c.y, c.x)).dropRight(1))
    (outer, holes)
  }

  /** True when any ring edge spans more than 180° of raw longitude (the
    * standard wrap test for coordinates crossing ±180) OR any longitude
    * lies outside [−180, 180] — a non-normalized representation like
    * `179..181` crosses the antimeridian with no >180° jump, so the
    * out-of-range check is what keeps those rings on the sentinel path.
    */
  private def wrapsAntimeridian(p: Polygon): Boolean = {
    def ringWraps(cs: Array[org.locationtech.jts.geom.Coordinate]): Boolean = {
      var i = 0
      while (i < cs.length) {
        if (math.abs(cs(i).x) > 180.0) return true
        if (i > 0 && math.abs(cs(i).x - cs(i - 1).x) > 180.0) return true
        i += 1
      }
      false
    }
    ringWraps(p.getExteriorRing.getCoordinates) ||
      (0 until p.getNumInteriorRing).exists(i =>
        ringWraps(p.getInteriorRingN(i).getCoordinates))
  }

  /** Spherical shoelace over the exterior ring (the geojson-area formula)
    * — an ORDER-OF-MAGNITUDE planning estimate only (holes ignored:
    * over-estimating just splits a bit eagerly; antimeridian-crossing
    * rings mis-estimate, which costs a suboptimal plan, never a wrong
    * result).
    */
  private def ringAreaKm2(ring: Array[org.locationtech.jts.geom.Coordinate]): Double = {
    val n = ring.length - 1 // closed ring: last == first
    if (n < 3) return 0.0
    var s = 0.0
    var i = 0
    while (i < n) {
      val p1 = ring(i); val p2 = ring((i + 1) % n)
      s += math.toRadians(p2.x - p1.x) *
        (2 + math.sin(math.toRadians(p1.y)) + math.sin(math.toRadians(p2.y)))
      i += 1
    }
    math.abs(s) / 2 * H3.EarthRadiusKm * H3.EarthRadiusKm
  }

  /** Estimated res-`res` cell count of the geometry's polygon components
    * (0 for non-polygon geometries — they never split).
    */
  def estimateCells(g: Geometry, res: Int): Double = {
    val polys = polygonComponents(g)
    if (polys == null) 0.0
    else {
      var a = 0.0
      var i = 0
      while (i < polys.length) {
        a += ringAreaKm2(polys(i).getExteriorRing.getCoordinates)
        i += 1
      }
      a / H3.avgHexAreaKm2(res)
    }
  }

  /** Phase 1: the per-polygon task list — coarse cover cells when the
    * estimate crosses the threshold, the sentinel otherwise. Decided per
    * WHOLE geometry (never per component) so sentinel and cover tasks
    * can't both emit a shared cell.
    */
  def tasks(g: Geometry, res: Int, threshold: Double = splitThreshold): Array[Long] = {
    if (res == 0) return SentinelTasks
    val polys = polygonComponents(g)
    if (polys == null) return SentinelTasks
    // Antimeridian-wrapping rings (any edge spanning >180° of longitude)
    // never split: the polyfill's planar ray-cast containment and the
    // cover BFS's spherical edge interpolation disagree about which side
    // is "inside" near the wrap, so a coarse cover is NOT a guaranteed
    // superset there (H3 v3 polyfill itself documents no antimeridian
    // support). Sentinel keeps such inputs bit-identical to the legacy
    // single-task path — the estimate error on these rings costs at most
    // a suboptimal plan, never a different result (PolySplitSpec pins it).
    if (polys.exists(wrapsAntimeridian)) return SentinelTasks
    if (estimateCells(g, res) <= threshold) return SentinelTasks
    val k = math.max(0, res - CoarseDepth)
    val cover = scala.collection.mutable.HashSet.empty[Long]
    polys.foreach { p =>
      val (outer, holes) = rings(p)
      H3.polygonCoarseCover(outer, holes, k).foreach(cover += _)
    }
    if (cover.isEmpty) SentinelTasks else cover.toArray
  }

  /** Phase 3: the task's output cells. Sentinel → the unchanged
    * whole-geometry path; cover cell → bounded descendant enumeration
    * (≤ 7^(res - taskRes) candidate tests) with the SAME
    * centroid-in-any-component test the BFS runs. Union over a
    * [[H3.polygonCoarseCover]] = exactly the BFS polyfill: the cover is an
    * ancestor superset and cellToChildren partitions cells by ancestor, so
    * nothing is missed and nothing is emitted twice.
    */
  def cellsUnder(g: Geometry, task: Long, res: Int): Array[Long] = {
    if (task == Sentinel) return GraftFunctions.indexGeometry(g, res)
    val comps = polygonComponents(g).map(rings)
    H3.cellToChildren(task, res).filter { c =>
      val ll = H3.cellToLatLng(c)
      comps.exists { case (o, h) => H3.pointInPolygon(ll, o, h) }
    }
  }

  // ------------------------------------------------------- the plan probe

  /** True when any row of `df`'s geometry column estimates past the split
    * threshold at `res`. The MAX ESTIMATE is memoized per input version and
    * res — bench reps and twin queries pay the probe job once; the
    * threshold compare stays live so a threshold change (scale demo, spec)
    * re-decides without re-probing.
    */
  def shouldSplit(df: DataFrame, geomCol: String, res: Int): Boolean = {
    val maxEst = SessionMemo.getOrCompute(df, s"split:$geomCol:$res") {
      // a null geometry estimates NULL, which max skips; an empty or
      // all-null input has no maximum and never splits
      val row = df.agg(max(callUDF("h3_polyfill_est", col(geomCol), lit(res)))).head()
      if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    }
    maxEst > splitThreshold
  }
}
