package graft.geo

import org.locationtech.jts.geom.{Geometry, LineString, MultiLineString, MultiPolygon, Polygon}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

/** Per-geometry segment bounding-box index for the per-cell ratio kernels.
  *
  * `ConvexClip.lengthIn`/`areaIn` walk EVERY segment of the feature for
  * EVERY cell — fine for parcel-sized features, quadratic doom for a
  * giant one (a 100k-vertex country ring × its ~10⁶ cells is 10¹¹ segment
  * clips inside one stage). Above [[SegmentThreshold]] segments, the
  * feature gets a one-time uniform-grid index over segment bboxes
  * (identity-memoized per thread beside `parseGeomCached`, so it rides the
  * same locality the WKT parse memo exploits) and each cell clips only the
  * segments whose bbox reaches its own:
  *
  *  - length: candidates are summed IN TRAVERSAL ORDER; every excluded
  *    segment is strictly bbox-disjoint from the (margin-padded) cell, so
  *    its Cyrus–Beck clip is an exact 0.0 — the indexed sum is
  *    BIT-IDENTICAL to the full walk (GeoSegIndexSpec asserts it).
  *  - area: a cell with NO boundary segment near it lies wholly inside or
  *    outside the polygon (decided by a PreparedGeometry point test); its
  *    clipped area is the hexagon's own anchored shoelace. That value
  *    agrees with the Sutherland–Hodgman reconstruction to ~1e-12 relative
  *    — inside the existing 1e-9 ConvexClip-vs-JTS contract, and engaged
  *    only above threshold where no pinned oracle exists. Boundary cells
  *    (O(perimeter) of them) keep the exact full clip.
  */
object GeoSegIndex {

  /** Features below this many segments never build an index — the plain
    * walk is faster than any query, and every test-SF geometry stays on
    * the byte-identical legacy path.
    */
  val SegmentThreshold: Int = 256

  /** Conservative bbox-query padding: excluded segments must be
    * GEOMETRICALLY disjoint from the cell by at least this margin (in
    * degrees), so their clip contribution is an exact 0.0 even under
    * worst-case FP sign noise in the Cyrus–Beck parameter tests.
    */
  val Margin: Double = 1e-9

  final class Index(val isLine: Boolean,
                    val x1: Array[Double], val y1: Array[Double],
                    val x2: Array[Double], val y2: Array[Double],
                    /** Cumulative segment count at each line component's
                      * end — lengthIn groups its accumulation by component
                      * so multi-part results stay BIT-identical to the
                      * full walk's per-component subtotals. */
                    val compEnds: Array[Int],
                    minX: Double, minY: Double, invW: Double, invH: Double,
                    nx: Int, ny: Int, bins: Array[Array[Int]],
                    val prepared: PreparedGeometry) {

    /** True iff any grid bin overlapping the padded query box holds a
      * segment — the same decision `query(...).length > 0` makes (bins
      * are the filter granularity either way) without materializing,
      * sorting, or deduping the candidate list.
      */
    def hasAnyNear(qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double): Boolean = {
      val (bx0, bx1) = binsFor(qMinX - Margin, qMaxX + Margin, minX, invW, nx)
      val (by0, by1) = binsFor(qMinY - Margin, qMaxY + Margin, minY, invH, ny)
      var by = by0
      while (by <= by1) {
        var bx = bx0
        while (bx <= bx1) {
          if (bins(by * nx + bx).length > 0) return true
          bx += 1
        }
        by += 1
      }
      false
    }

    private def binsFor(lo: Double, hi: Double, min: Double, inv: Double,
                        n: Int): (Int, Int) = {
      val a = math.max(0, math.min(n - 1, math.floor((lo - min) * inv).toInt))
      val b = math.max(0, math.min(n - 1, math.floor((hi - min) * inv).toInt))
      (a, b)
    }

    /** Candidate segment indices from every grid bin overlapping the
      * margin-padded query box, ascending, deduped. Never null; may be
      * empty (either the shared empty array or an untouched empty bin —
      * callers must not mutate the result).
      */
    def query(qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double): Array[Int] = {
      val (bx0, bx1) = binsFor(qMinX - Margin, qMaxX + Margin, minX, invW, nx)
      val (by0, by1) = binsFor(qMinY - Margin, qMaxY + Margin, minY, invH, ny)
      if (bx0 == bx1 && by0 == by1) return bins(by0 * nx + bx0)
      var total = 0
      var by = by0
      while (by <= by1) {
        var bx = bx0
        while (bx <= bx1) { total += bins(by * nx + bx).length; bx += 1 }
        by += 1
      }
      if (total == 0) return EmptyInts
      val out = new Array[Int](total)
      var k = 0
      by = by0
      while (by <= by1) {
        var bx = bx0
        while (bx <= bx1) {
          val b = bins(by * nx + bx)
          System.arraycopy(b, 0, out, k, b.length); k += b.length
          bx += 1
        }
        by += 1
      }
      java.util.Arrays.sort(out)
      // dedupe in place (a segment spanning several bins appears once per bin)
      var n = 0; var i = 0
      while (i < out.length) {
        if (n == 0 || out(i) != out(n - 1)) { out(n) = out(i); n += 1 }
        i += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }
  }

  private val EmptyInts = new Array[Int](0)

  /** Flat traversal-ordered segments of the geometry's line components
    * (LineStrings) or ring boundaries ((Multi)Polygons) — null below
    * threshold and for every other kind. Heterogeneous
    * GeometryCollections deliberately stay on the legacy full walk:
    * PreparedGeometry.contains rejects collection receivers, and the
    * legacy path handles them fine.
    */
  private def build(g: Geometry): Index = {
    val (isLine, lineComps, polyComps) = g match {
      case l: LineString => (true, Array(l), null)
      case ml: MultiLineString =>
        (true, Array.tabulate(ml.getNumGeometries)(
          ml.getGeometryN(_).asInstanceOf[LineString]), null)
      case p: Polygon => (false, null, Array(p))
      case mp: MultiPolygon =>
        (false, null, Array.tabulate(mp.getNumGeometries)(
          mp.getGeometryN(_).asInstanceOf[Polygon]))
      case _ => return null
    }
    def ringSegs(cs: Int): Int = math.max(0, cs - 1)
    val nSegs =
      if (isLine) lineComps.iterator.map(l => ringSegs(l.getNumPoints)).sum
      else polyComps.iterator.map { p =>
        ringSegs(p.getExteriorRing.getNumPoints) +
          (0 until p.getNumInteriorRing)
            .map(h => ringSegs(p.getInteriorRingN(h).getNumPoints)).sum
      }.sum
    if (nSegs < SegmentThreshold) return null

    val x1 = new Array[Double](nSegs); val y1 = new Array[Double](nSegs)
    val x2 = new Array[Double](nSegs); val y2 = new Array[Double](nSegs)
    var k = 0
    def addRing(cs: Array[org.locationtech.jts.geom.Coordinate]): Unit = {
      var i = 1
      while (i < cs.length) {
        x1(k) = cs(i - 1).x; y1(k) = cs(i - 1).y
        x2(k) = cs(i).x; y2(k) = cs(i).y
        k += 1; i += 1
      }
    }
    val compEnds =
      if (isLine) lineComps.map { l => addRing(l.getCoordinates); k }
      else {
        polyComps.foreach { p =>
          addRing(p.getExteriorRing.getCoordinates)
          var h = 0
          while (h < p.getNumInteriorRing) {
            addRing(p.getInteriorRingN(h).getCoordinates); h += 1
          }
        }
        null
      }

    val env = g.getEnvelopeInternal
    val n = math.max(1, math.ceil(math.sqrt(nSegs.toDouble)).toInt)
    val w = math.max(env.getWidth / n, 1e-12)
    val h = math.max(env.getHeight / n, 1e-12)
    val nx = math.max(1, math.min(n, math.ceil(env.getWidth / w).toInt))
    val ny = math.max(1, math.min(n, math.ceil(env.getHeight / h).toInt))
    val builders = Array.fill(nx * ny)(new scala.collection.mutable.ArrayBuilder.ofInt)
    val invW = 1.0 / w; val invH = 1.0 / h
    var s = 0
    while (s < nSegs) {
      val sx0 = math.min(x1(s), x2(s)); val sx1 = math.max(x1(s), x2(s))
      val sy0 = math.min(y1(s), y2(s)); val sy1 = math.max(y1(s), y2(s))
      val bx0 = math.max(0, math.min(nx - 1, math.floor((sx0 - env.getMinX) * invW).toInt))
      val bx1 = math.max(0, math.min(nx - 1, math.floor((sx1 - env.getMinX) * invW).toInt))
      val by0 = math.max(0, math.min(ny - 1, math.floor((sy0 - env.getMinY) * invH).toInt))
      val by1 = math.max(0, math.min(ny - 1, math.floor((sy1 - env.getMinY) * invH).toInt))
      var by = by0
      while (by <= by1) {
        var bx = bx0
        while (bx <= bx1) { builders(by * nx + bx) += s; bx += 1 }
        by += 1
      }
      s += 1
    }
    new Index(isLine, x1, y1, x2, y2, compEnds,
      env.getMinX, env.getMinY, invW, invH,
      nx, ny, builders.map(_.result()),
      if (isLine) null else PreparedGeometryFactory.prepare(g))
  }

  // Per-thread identity cache beside parseGeomCached: the same Geometry
  // INSTANCE repeats across a partition's rows, so identity keying is both
  // correct and O(1) — not a Memo.PerThread, whose equals keying is an
  // O(n) equalsExact on these giant rings; nor may a giant index live as
  // long as 48 parsed features. Null results (below threshold / mixed
  // kind) cache too — the segment recount is not free.
  private val NullMarker = new Object
  private val cache = ThreadLocal.withInitial[java.util.IdentityHashMap[Geometry, AnyRef]](
    () => new java.util.IdentityHashMap[Geometry, AnyRef](16))

  def cached(g: Geometry): Index = {
    val c = cache.get()
    val hit = c.get(g)
    if (hit != null) return (if (hit eq NullMarker) null else hit.asInstanceOf[Index])
    if (c.size() > 8) c.clear() // giant features are few per executor thread
    val idx = build(g)
    c.put(g, if (idx == null) NullMarker else idx)
    idx
  }

  private def regionBounds(r: ConvexClip.Region): (Double, Double, Double, Double) = {
    var minX = r.xs(0); var maxX = r.xs(0); var minY = r.ys(0); var maxY = r.ys(0)
    var i = 1
    while (i < r.n) {
      val x = r.xs(i); val y = r.ys(i)
      if (x < minX) minX = x; if (x > maxX) maxX = x
      if (y < minY) minY = y; if (y > maxY) maxY = y
      i += 1
    }
    (minX, minY, maxX, maxY)
  }

  /** Indexed length(g ∩ region): the full-walk sum restricted to bbox
    * candidates in traversal order, ACCUMULATED PER COMPONENT like the
    * full walk (which sums each LineString from 0.0 and then adds the
    * subtotals — FP addition is non-associative, so a flat accumulator
    * would drift in the last ulp on multi-part routes). Excluded segments
    * clip to an exact 0.0, so the result is bit-identical.
    */
  def lengthIn(r: ConvexClip.Region, idx: Index): Double = {
    val (minX, minY, maxX, maxY) = regionBounds(r)
    val cand = idx.query(minX, minY, maxX, maxY)
    val ends = idx.compEnds
    var comp = 0; var sub = 0.0; var total = 0.0
    var i = 0
    while (i < cand.length) {
      val k = cand(i)
      while (k >= ends(comp)) { total += sub; sub = 0.0; comp += 1 }
      sub += ConvexClip.segmentLengthIn(r, idx.x1(k), idx.y1(k), idx.x2(k), idx.y2(k))
      i += 1
    }
    total + sub
  }

  /** Indexed area(g ∩ region): boundary-adjacent cells take the exact full
    * clip; interior/exterior cells resolve via one prepared point test and
    * the hexagon's own anchored shoelace. Assumes VALID polygonal input
    * (non-self-overlapping components) — the pipeline's Validator repairs
    * these upstream (P5); a self-overlapping MultiPolygon would double-sum
    * in the full clip but not here.
    */
  def areaIn(r: ConvexClip.Region, g: Geometry, idx: Index): Double = {
    val (minX, minY, maxX, maxY) = regionBounds(r)
    if (idx.hasAnyNear(minX, minY, maxX, maxY)) return ConvexClip.areaIn(r, g)
    // no boundary near: wholly one side — test the region's centroid
    var cx = 0.0; var cy = 0.0
    var i = 0
    while (i < r.n) { cx += r.xs(i); cy += r.ys(i); i += 1 }
    val pt = g.getFactory.createPoint(
      new org.locationtech.jts.geom.Coordinate(cx / r.n, cy / r.n))
    if (!idx.prepared.contains(pt)) return 0.0
    // anchored shoelace of the region ring (the same form ringAreaIn uses)
    val ax = r.xs(0); val ay = r.ys(0)
    var area2 = 0.0
    i = 0
    while (i < r.n) {
      val j = (i + 1) % r.n
      area2 += (r.xs(i) - ax) * (r.ys(j) - ay) - (r.xs(j) - ax) * (r.ys(i) - ay)
      i += 1
    }
    math.abs(area2) / 2.0
  }
}
