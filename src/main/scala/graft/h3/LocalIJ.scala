package graft.h3

/** Local-IJK coordinates and exact grid-path tracing, after the published
  * H3 v3 local-IJ scheme (h3geo.org/docs/core-library/custom-alloc + the
  * documented `experimentalH3ToLocalIj` / `h3Line` semantics; Apache-2.0).
  * The reference's line indexing is h3-pyspark `index_shape` → h3 `h3_line`
  * (/root/reference/src/h3_indexer/h3_indexer.py:167-169), which draws the
  * line by linear interpolation in local-IJ space between the endpoint
  * cells; this is a from-scratch Scala implementation of that algorithm.
  *
  * Domain: upstream local-IJ is defined only near the origin — it FAILS
  * beyond the origin's immediate base-cell neighborhood and around
  * pentagons. This implementation supports the same domain (origin and
  * index in the same or directly-neighboring non-pentagon base cells) and
  * returns None outside it; [[H3.pathCells]] then falls back to geodesic
  * sampling, which is strictly more useful than upstream's hard error.
  *
  * Upstream ships two static tables — `baseCellNeighbors[122][7]` and
  * `baseCellNeighbor60CCWRots[122][7]` — that this repo does not copy.
  * They are DERIVED geometrically at first use, per (baseCell, direction):
  * the neighbor is the nearest base-cell center to the unit-direction
  * lattice step from the home position, and the rotation count is the
  * unique rot ∈ 0..5 whose unfolded-lattice distances reproduce geometric
  * BFS grid distances for a set of asymmetric probe cells. Same
  * derive-and-verify calibration pattern as [[BaseCells.deriveLookups]];
  * any ambiguity marks the pair unsupported (→ sampling fallback).
  */
object LocalIJ {

  /** Coordinates of `h` within its own base cell's frame: descend the digit
    * string from (0,0,0) — upstream's `_h3ToFaceIjkWithInitializedFijk`.
    */
  private[h3] def bcFrameCoords(h: Long): CoordIJK = {
    var ijk = CoordIJK(0, 0, 0)
    val res = H3Index.resolution(h)
    var r = 1
    while (r <= res) {
      ijk = if (Constants.isResClassIII(r)) ijk.downAp7 else ijk.downAp7r
      ijk = ijk.neighbor(H3Index.digit(h, r))
      r += 1
    }
    ijk
  }

  /** Unit vector of direction `d` scaled from res 0 down to `res` — the
    * origin-frame position of the neighboring base cell's center.
    */
  private[h3] def scaledOffset(d: Int, res: Int): CoordIJK = {
    var off = CoordIJK.UnitVecs(d)
    var r = res - 1
    while (r >= 0) {
      off = if (Constants.isResClassIII(r + 1)) off.downAp7 else off.downAp7r
      r -= 1
    }
    off
  }

  /** Hex-grid distance between two lattice positions in one frame. */
  def ijkDistance(a: CoordIJK, b: CoordIJK): Int = {
    val d = (a - b).normalize
    math.max(d.i, math.max(d.j, d.k))
  }

  /** Per-base-cell neighbor (by direction digit 1..6) and the 60° rotation
    * count between the two cells' digit frames. -1 = unsupported.
    */
  private final case class Frame(nbr: Array[Int], rots: Array[Int])

  // not a graft.geo.Memo: a fixed 122-entry (per base cell) table, never evicted
  private val frames = new java.util.concurrent.ConcurrentHashMap[Int, Frame]()

  private def res0Cell(bc: Int): Long =
    H3Index.setBaseCell(H3Index.setResolution(H3Index.Init, 0), bc)

  private def centerChildAt(bc: Int, res: Int): Long = {
    var h = H3Index.setResolution(H3Index.Init, res)
    h = H3Index.setBaseCell(h, bc)
    var r = 1
    while (r <= res) { h = H3Index.setDigit(h, r, 0); r += 1 }
    h
  }

  /** Derive the (neighbor, rotation) row for hexagon base cell `bc`. */
  private def deriveFrame(bc: Int): Frame = {
    val nbr = Array.fill(7)(-1)
    val rots = Array.fill(7)(-1)
    val info = BaseCells.cells(bc)
    val calibRes = 2
    val originH = centerChildAt(bc, calibRes)
    val originCoord = CoordIJK(0, 0, 0)
    var d = 1
    while (d <= 6) {
      // candidate neighbor: nearest base-cell center to the unit lattice
      // step from the home position (inverse gnomonic of one cell out)
      val p = (info.homeIjk + CoordIJK.UnitVecs(d)).normalize
      val g = Icosa.faceIjkToGeo(FaceIJK(info.homeFace, p), 0)
      var best = -1; var bestD = Double.MaxValue; var secondD = Double.MaxValue
      var c = 0
      while (c < BaseCells.centers.length) {
        val dist = g.distRads(BaseCells.centers(c))
        if (dist < bestD) { secondD = bestD; bestD = dist; best = c }
        else if (dist < secondD) { secondD = dist }
        c += 1
      }
      // must be unambiguous, a true geometric neighbor, and not a pentagon
      if (best != bc && best >= 0 && secondD > bestD * 1.5 &&
          !BaseCells.isPentagon(best) && !BaseCells.isPentagon(bc)) {
        // rotation count: the unique rot whose unfolded-lattice distances
        // reproduce BFS grid distances for asymmetric probe children
        val probes = {
          val kids = H3.cellToChildren(res0Cell(best), calibRes)
          Array(1, 8, 15, 23, 30, 44).filter(_ < kids.length).map(kids)
        }
        val bfs = probes.map(h => H3.gridDistanceBfs(originH, h))
        val off = scaledOffset(d, calibRes)
        val surviving = (0 to 5).filter { rot =>
          probes.indices.forall { pi =>
            var hr = probes(pi)
            var i = 0
            while (i < rot) { hr = H3Index.rotate60cw(hr); i += 1 }
            val coord = (bcFrameCoords(hr) + off).normalize
            ijkDistance(coord, originCoord) == bfs(pi)
          }
        }
        if (surviving.size == 1) { nbr(d) = best; rots(d) = surviving.head }
      }
      d += 1
    }
    Frame(nbr, rots)
  }

  private def frame(bc: Int): Frame = {
    val cached = frames.get(bc)
    if (cached != null) cached
    else {
      val f = deriveFrame(bc)
      frames.putIfAbsent(bc, f)
      f
    }
  }

  /** Coordinates of `h` in `origin`'s base-cell frame; None when outside
    * the supported local-IJ domain (≙ upstream's error return).
    */
  def cellToLocalIjk(origin: Long, h: Long): Option[CoordIJK] = {
    val res = H3Index.resolution(origin)
    if (H3Index.resolution(h) != res) return None
    val bcO = H3Index.baseCell(origin)
    val bcH = H3Index.baseCell(h)
    if (BaseCells.isPentagon(bcO) || BaseCells.isPentagon(bcH)) return None
    if (bcO == bcH) return Some(bcFrameCoords(h))
    val f = frame(bcO)
    var d = 1
    while (d <= 6 && f.nbr(d) != bcH) d += 1
    if (d > 6 || f.rots(d) < 0) return None
    var hr = h
    var i = 0
    while (i < f.rots(d)) { hr = H3Index.rotate60cw(hr); i += 1 }
    Some((bcFrameCoords(hr) + scaledOffset(d, res)).normalize)
  }

  /** Inverse of [[cellToLocalIjk]]: materialize the cell at lattice position
    * `ijkIn` of `origin`'s frame. None outside the supported domain.
    */
  def localIjkToCell(origin: Long, ijkIn: CoordIJK): Option[Long] = {
    val res = H3Index.resolution(origin)
    val bcO = H3Index.baseCell(origin)
    if (BaseCells.isPentagon(bcO)) return None
    var h = H3Index.setResolution(H3Index.Init, res)
    var ijk = ijkIn.normalize
    var r = res
    while (r >= 1) {
      val parent = if (Constants.isResClassIII(r)) ijk.upAp7 else ijk.upAp7r
      val center = if (Constants.isResClassIII(r)) parent.downAp7 else parent.downAp7r
      val digit = (ijk - center).normalize.toDigit
      if (digit < 0) return None
      h = H3Index.setDigit(h, r, digit)
      ijk = parent
      r -= 1
    }
    if (ijk == CoordIJK(0, 0, 0)) Some(H3Index.setBaseCell(h, bcO))
    else {
      val d = ijk.toDigit // res-0 remainder must be one unit step
      if (d <= 0) return None
      val f = frame(bcO)
      if (f.nbr(d) < 0 || f.rots(d) < 0) return None
      var out = H3Index.setBaseCell(h, f.nbr(d))
      var i = 0
      while (i < f.rots(d)) { out = H3Index.rotate60ccw(out); i += 1 }
      Some(out)
    }
  }

  /** O(1) grid distance via local coordinates (upstream h3Distance). */
  def gridDistance(a: Long, b: Long): Option[Int] =
    for {
      ca <- cellToLocalIjk(a, a)
      cb <- cellToLocalIjk(a, b)
    } yield ijkDistance(ca, cb)

  // ---- cube-space line drawing (upstream h3Line) ----

  /** C lround: round half away from zero (Math.round rounds half up). */
  private def lround(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  /** Round fractional cube coordinates to the nearest cell, fixing the
    * axis with the largest rounding error so i+j+k stays 0.
    */
  private def cubeRound(i: Double, j: Double, k: Double): CoordIJK = {
    var ri = lround(i); var rj = lround(j); var rk = lround(k)
    val iDiff = math.abs(ri - i)
    val jDiff = math.abs(rj - j)
    val kDiff = math.abs(rk - k)
    if (iDiff > jDiff && iDiff > kDiff) ri = -rj - rk
    else if (jDiff > kDiff) rj = -ri - rk
    else rk = -ri - rj
    // cube → ijk: i = -i, k = 0, normalize
    CoordIJK((-ri).toInt, rj.toInt, 0).normalize
  }

  /** The cell chain from `start` to `end`, drawn by linear interpolation in
    * cube coordinates of `start`'s local frame — bit-compatible with the
    * h3 v3 `h3_line` the reference calls. None outside the local-IJ domain
    * (upstream errors there; callers fall back to geodesic sampling).
    */
  def gridPathCells(start: Long, end: Long): Option[Array[Long]] = {
    if (start == end) return Some(Array(start))
    val sOpt = cellToLocalIjk(start, start)
    val eOpt = cellToLocalIjk(start, end)
    if (sOpt.isEmpty || eOpt.isEmpty) return None
    val s = sOpt.get
    val e = eOpt.get
    val n = ijkDistance(s, e)
    if (n <= 0) return Some(Array(start))
    // ijk → cube: i' = -(i-k), j' = j-k, k' = -i'-j'
    val sI = -(s.i - s.k).toDouble; val sJ = (s.j - s.k).toDouble; val sK = -sI - sJ
    val eI = -(e.i - e.k).toDouble; val eJ = (e.j - e.k).toDouble; val eK = -eI - eJ
    val iStep = (eI - sI) / n; val jStep = (eJ - sJ) / n; val kStep = (eK - sK) / n
    val out = new Array[Long](n + 1)
    var t = 0
    while (t <= n) {
      val ijk = cubeRound(sI + iStep * t, sJ + jStep * t, sK + kStep * t)
      localIjkToCell(start, ijk) match {
        case Some(cell) => out(t) = cell
        case None => return None
      }
      t += 1
    }
    Some(out)
  }
}
