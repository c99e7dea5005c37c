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
    * The memo is striped into [[MemoStripes]] independent maps keyed by the
    * cell hash; when a stripe reaches its cap only THAT stripe is cleared, so
    * one miss evicts at most 1/128 of the memo. (Round-1 shipped a single map
    * with clear-at-cap, which wiped all 262k entries for every thread the
    * moment distinct cells crossed the cap — measured 5× degradation on
    * h3_index_lines once earlier queries had filled it.)
    */
  private[graft] val memoMisses = new java.util.concurrent.atomic.AtomicLong()
  private[graft] val MemoStripes = 128
  private[graft] var memoStripeCap = {
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
    math.max(64, total / MemoStripes)
  }
  private val stripes = Array.fill(MemoStripes)(
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, CellInfo]())

  /** 64-bit finalizer mix (splitmix64): raw H3 longs have near-constant low
    * bits (unused digits are all 1s), so Long.hashCode % stripes would skew
    * badly and over-evict hot stripes.
    */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def cellInfoCached(cell: Long): CellInfo = {
    val boxed = java.lang.Long.valueOf(cell)
    val m = stripes((mix(cell).toInt & 0x7fffffff) % MemoStripes)
    val hit = m.get(boxed)
    if (hit != null) return hit
    memoMisses.incrementAndGet()
    val b = H3.cellToBoundary(cell)
    val poly = boundaryPolygon(b)
    val v = CellInfo(poly, boundaryAreaKm2(b), ConvexClip.fromPolygon(poly))
    if (m.size >= memoStripeCap) m.clear() // partial eviction: one stripe only
    m.put(boxed, v)
    v
  }

  // ---- area-only cache. The epilogue/fold `h3_area_km2` lookups need ONLY
  // the scalar; paying the full CellInfo construction (JTS polygon + clip
  // region, ~800 B/entry) per miss let a 10× corpus's ~1M distinct cells
  // brush the heap-scaled CellInfo cap and thrash BOTH consumers (measured
  // at the 10× soak: 4.6M misses against 0.3M ratio calls,
  // h3_resolve_multi 2.6 → 10 s wall). A boxed-Double entry is ~50 B, so
  // this cache holds ~16× more cells in the same heap share and the
  // area-only traffic never evicts the geometry memo.

  private[graft] val areaMisses = new java.util.concurrent.atomic.AtomicLong(0L)
  private val areaStripes = Array.fill(MemoStripes)(
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Double]())
  private[graft] var areaStripeCap: Int = math.max(512, memoStripeCap * 16)

  /** Cell area in km², the same [[boundaryAreaKm2]] cellInfoCached uses
    * (bit-identical values) but cached standalone — consults an
    * already-built CellInfo first so ratio-path cells are free.
    */
  def cellAreaKm2Cached(cell: Long): Double = {
    val boxed = java.lang.Long.valueOf(cell)
    val stripe = (mix(cell).toInt & 0x7fffffff) % MemoStripes
    val gHit = stripes(stripe).get(boxed)
    if (gHit != null) return gHit.areaKm2
    val m = areaStripes(stripe)
    val hit = m.get(boxed)
    if (hit != null) return hit.doubleValue
    areaMisses.incrementAndGet()
    val areaKm2 = cellAreaKm2(cell)
    if (m.size >= areaStripeCap) m.clear() // partial eviction: one stripe only
    m.put(boxed, java.lang.Double.valueOf(areaKm2))
    areaKm2
  }

  /** Total entries across stripes (test/diagnostics only). */
  private[graft] def memoSize: Int = { var s = 0; var i = 0; while (i < MemoStripes) { s += stripes(i).size; i += 1 }; s }
  private[graft] def memoClear(): Unit = { stripes.foreach(_.clear()); areaStripes.foreach(_.clear()) }

  /** Boundary WKT + geodesic area in one boundary computation (the string
    * surface of the memo, kept for the registered `h3_cell_info` UDF).
    */
  def cellInfo(cell: String): (String, Double) = {
    val b = H3.cellToBoundary(H3Index.fromHexString(cell))
    (boundaryWkt(b), boundaryAreaKm2(b))
  }

  /** Resolution-3 ancestor as hex string (U2, the partition key). */
  def parentRes3(cell: String): String = H3.cellToParentString(cell, 3)
}
