package graft.geo

import graft.h3.{H3, H3Index, LatLng}
import org.locationtech.jts.geom.{Coordinate, Polygon}

/** Bridge between the H3 core and JTS geometry: the U2/U3 UDF surface of the
  * reference (spark_udfs.py:12-21, 48-67) plus hexagon areas.
  */
object H3Geo {

  /** Cell boundary as a closed JTS polygon in (lng, lat) order — the
    * reference's h3_to_wkt swaps h3's lat/lng pairs and repeats the first
    * vertex (spark_udfs.py:48-67).
    */
  private def boundaryPolygon(b: Array[LatLng]): Polygon = {
    val cs = new Array[Coordinate](b.length + 1)
    var i = 0
    while (i < b.length) {
      cs(i) = new Coordinate(math.toDegrees(b(i).lng), math.toDegrees(b(i).lat))
      i += 1
    }
    cs(b.length) = cs(0)
    GeoIO.factory.createPolygon(cs)
  }

  /** Hexagon area in km² via the exact geodesic area of its boundary
    * (geospatial.py:117-137: ST_AreaSpheroid(h3_to_wkt(ix)) / 1e6). Every
    * area consumer evaluates this one expression, so cached and uncached
    * areas agree bit for bit.
    */
  private def boundaryAreaKm2(b: Array[LatLng]): Double =
    math.abs(GeodesicExact.ringArea(
      b.map(v => (math.toDegrees(v.lng), math.toDegrees(v.lat))))) / 1e6

  /** Fast WKT writer for cell boundary polygons (JTS WKTWriter's decimal
    * formatting costs ~30µs/cell; a direct StringBuilder with
    * Double.toString is ~10× cheaper and WKT-parseable identically).
    */
  private def boundaryWkt(b: Array[LatLng]): String = {
    val sb = new java.lang.StringBuilder(b.length * 44 + 16)
    sb.append("POLYGON ((")
    var i = 0
    while (i <= b.length) {
      val v = b(i % b.length)
      if (i > 0) sb.append(", ")
      sb.append(math.toDegrees(v.lng)).append(' ').append(math.toDegrees(v.lat))
      i += 1
    }
    sb.append("))").toString
  }

  def cellToWkt(cell: Long): String = boundaryWkt(H3.cellToBoundary(cell))
  def cellToWkt(cell: String): String = cellToWkt(H3Index.fromHexString(cell))

  /** Hexagon area in km² ([[boundaryAreaKm2]]), uncached. */
  def cellAreaKm2(cell: Long): Double = boundaryAreaKm2(H3.cellToBoundary(cell))

  def cellAreaKm2(cell: String): Double = cellAreaKm2(H3Index.fromHexString(cell))

  /** Per-cell derived data the indexer needs once per covering cell: the
    * boundary as a parsed JTS polygon (for the ratio intersections — storing
    * the WKT string instead would re-parse it for every (feature, cell)
    * pair), the exact geodesic area, and the convex-clip region (Some for
    * the ~all cells whose planar ring is convex, None → JTS overlay).
    */
  final case class CellInfo(poly: Polygon, areaKm2: Double,
                            clip: Option[ConvexClip.Region])

  /** Bounded per-executor memo of cell → [[CellInfo]], keyed by the raw long
    * index (no hex strings in the hot path). Rows arrive feature-clustered,
    * so hit rate ≈ 1 − distinct/pairs; on a cluster each executor holds its
    * own memo (worst case: distinct cells × executors recomputes of ~10µs —
    * bounded and shuffle-free, unlike a distinct+join dimension which
    * shuffles every pair twice).
    *
    * A [[Memo.Striped]]: a stripe at its cap is cleared alone. (Round-1
    * shipped a single map with clear-at-cap, which wiped all 262k entries
    * for every thread the moment distinct cells crossed the cap — measured
    * 5× degradation on h3_index_lines once earlier queries had filled it.)
    */
  private val infoMemo = new Memo.Striped[CellInfo]({
    // Default cap scales with the executor heap: each CellInfo is ~800 B
    // (hexagon JTS polygon + clip region + key), and the memo may take ~10%
    // of the heap. A fixed 512k cap sat right at the working set of one
    // bench suite (points 150k + lines 370k + polygon/spatial covers), so a
    // long-lived JVM thrashed: every rep re-missed ~all cells at ~25 µs a
    // miss (the round-3 driver bench recorded h3_index_lines 10.7 s where a
    // thrash-free run takes 2 s). Floor 512k, ceiling 8M (≈6 GB at 800 B).
    val heapScaled = (Runtime.getRuntime.maxMemory / 10 / 800L)
      .max(524288L).min(8L * 1024 * 1024).toInt
    val total = sys.env.get("SPARK_GRAFT_H3_MEMO_CAP").map(_.toInt).getOrElse(heapScaled)
    math.max(64, total / Memo.Stripes)
  })

  // ---- area-only cache. The epilogue/fold `h3_area_km2` lookups need ONLY
  // the scalar; paying the full CellInfo construction (JTS polygon + clip
  // region, ~800 B/entry) per miss let a 10× corpus's ~1M distinct cells
  // brush the heap-scaled CellInfo cap and thrash BOTH consumers (measured
  // at the 10× soak: 4.6M misses against 0.3M ratio calls,
  // h3_resolve_multi 2.6 → 10 s wall). A boxed-Double entry is ~50 B, so
  // this cache holds ~16× more cells in the same heap share and the
  // area-only traffic never evicts the geometry memo.
  private val areaMemo =
    new Memo.Striped[java.lang.Double](math.max(512, infoMemo.stripeCap * 16))

  private[graft] def memoMisses: java.util.concurrent.atomic.AtomicLong = infoMemo.misses
  private[graft] def areaMisses: java.util.concurrent.atomic.AtomicLong = areaMemo.misses
  private[graft] val MemoStripes = Memo.Stripes
  private[graft] def memoStripeCap: Int = infoMemo.stripeCap
  private[graft] def memoStripeCap_=(cap: Int): Unit = infoMemo.stripeCap = cap
  private[graft] def areaStripeCap: Int = areaMemo.stripeCap

  def cellInfoCached(cell: Long): CellInfo = {
    val hit = infoMemo.get(cell)
    if (hit != null) return hit
    val b = H3.cellToBoundary(cell)
    val poly = boundaryPolygon(b)
    infoMemo.put(cell, CellInfo(poly, boundaryAreaKm2(b), ConvexClip.fromPolygon(poly)))
  }

  /** Cell area in km², the same [[boundaryAreaKm2]] cellInfoCached uses
    * (bit-identical values) but cached standalone — consults an
    * already-built CellInfo first so ratio-path cells are free.
    */
  def cellAreaKm2Cached(cell: Long): Double = {
    val gHit = infoMemo.get(cell)
    if (gHit != null) return gHit.areaKm2
    val hit = areaMemo.get(cell)
    if (hit != null) return hit.doubleValue
    areaMemo.put(cell, java.lang.Double.valueOf(cellAreaKm2(cell))).doubleValue
  }

  /** Cell area in km² read from the cell's [[CellInfo]], built on a miss:
    * for cells whose ratio clips against the hexagon anyway, so the area
    * and the clip share one entry whichever a projection evaluates first.
    */
  def cellInfoAreaKm2(cell: Long): Double = cellInfoCached(cell).areaKm2

  /** Entries in the CellInfo memo (test/diagnostics only). */
  private[graft] def memoSize: Int = infoMemo.size
  private[graft] def memoClear(): Unit = { infoMemo.clear(); areaMemo.clear() }

  /** Boundary WKT + geodesic area in one boundary computation (the string
    * surface of the memo, kept for the registered `h3_cell_info` function).
    */
  def cellInfo(cell: String): (String, Double) = {
    val b = H3.cellToBoundary(H3Index.fromHexString(cell))
    (boundaryWkt(b), boundaryAreaKm2(b))
  }

  /** Resolution-3 ancestor as hex string (U2, the partition key). */
  def parentRes3(cell: String): String = H3.cellToParentString(cell, 3)
}
