package graft.h3

import Constants._
import scala.collection.mutable

/** Public H3 API surface needed by the engine (the subset the reference
  * pipeline consumes through h3-py 3.7.4 / h3-pyspark 1.2.6 — see
  * /root/repo/SURVEY.md §2.6): latLngToCell, cellToLatLng, cellToBoundary,
  * cellToParent, polygonToCells (centroid polyfill), pathCells, plus
  * neighbor/gridDisk support. Pure Scala, no Spark dependency; safe for use
  * inside executor-side expressions.
  */
object H3 {

  // ---------------------------------------------------------------- indexing

  /** Geographic point → containing cell at res (the core U1/latLngToCell). */
  def latLngToCell(g: LatLng, res: Int): Long = {
    require(res >= 0 && res <= MaxH3Res, s"invalid res $res")
    val fijk = Icosa.geoToFaceIjk(g, res)
    if (res == 0) {
      val bc = BaseCells.faceIjkToBaseCell(fijk)
      require(bc >= 0, s"no base cell at $fijk")
      return H3Index.setBaseCell(H3Index.setResolution(H3Index.Init, 0), bc)
    }
    val (hDigits, fijkBC) = aggregateDigits(fijk, res)
    val bc = BaseCells.faceIjkToBaseCell(fijkBC)
    require(bc >= 0, s"no base cell at $fijkBC (from $fijk res $res)")
    val numRots = BaseCells.faceIjkToBaseCellCCWrot60(fijkBC)
    if (numRots >= 0) applyBaseRotation(hDigits, bc, fijkBC.face, numRots)
    else {
      // rare position missed by eager calibration (thin sliver near a face
      // vertex). The correct rotation is the one whose decoded cell actually
      // CONTAINS the point — nearest-center can pick a wrong neighbor under
      // gnomonic distortion (adjacent centers sit only ~1.73 edge lengths
      // apart), and learning a wrong rotation would miscell every later
      // point at this (face, position). Validate by containment; learn the
      // rotation only when the point is unambiguously interior.
      val cands = (0 until 6).map(r => r -> applyBaseRotation(hDigits, bc, fijkBC.face, r))
      val boundaries = cands.map { case (_, c) => cellToBoundary(c) }
      val containing = cands.indices.filter(i => boundaryContains(boundaries(i), g))
      val containingCells = containing.map(i => cands(i)._2).distinct
      if (containingCells.length == 1) {
        val ci = containing.head
        // unambiguously interior = containment stable under ~1%-of-an-edge
        // perturbation in all four compass directions
        val eps = hexEdgeLengthRads(res) * 0.01
        val stable = containing.length == 1 &&
          Seq((eps, 0.0), (-eps, 0.0), (0.0, eps), (0.0, -eps)).forall {
            case (dLat, dLng) => boundaryContains(boundaries(ci),
              LatLng(g.lat + dLat, LatLng.constrainLng(g.lng + dLng)))
          }
        if (stable) BaseCells.learnRotation(fijkBC, cands(ci)._1)
        containingCells.head
      } else {
        // edge/vertex tie or numeric degeneracy: answer by nearest center
        // WITHOUT learning, so one ambiguous point can't poison the table
        val dists = cands.map { case (_, c) => cellToLatLng(c).distRads(g) }
        val best = dists.indices.minBy(dists)
        require(dists(best) < 2 * hexEdgeLengthRads(res),
          s"lazy rotation calibration failed at $fijkBC: $dists")
        cands(best)._2
      }
    }
  }

  /** Even-odd containment of g in a cell boundary ring, antimeridian-safe
    * (vertex longitudes recentered to within π of g's longitude).
    */
  private def boundaryContains(b: Array[LatLng], g: LatLng): Boolean = {
    def adjLng(l: Double): Double = {
      var x = l
      while (x - g.lng > math.Pi) x -= 2 * math.Pi
      while (x - g.lng < -math.Pi) x += 2 * math.Pi
      x
    }
    var inside = false
    var i = 0
    var j = b.length - 1
    while (i < b.length) {
      val aLat = b(i).lat; val aLng = adjLng(b(i).lng)
      val bLat = b(j).lat; val bLng = adjLng(b(j).lng)
      if ((aLng > g.lng) != (bLng > g.lng) &&
          g.lat < (bLat - aLat) * (g.lng - aLng) / (bLng - aLng) + aLat)
        inside = !inside
      j = i
      i += 1
    }
    inside
  }

  def latLngToCell(latDeg: Double, lngDeg: Double, res: Int): Long =
    latLngToCell(LatLng.degrees(latDeg, lngDeg), res)

  /** Build the digit string for fijk at res, aggregating up to the res-0
    * position on the same face. Returns the index (mode+res+digits, base
    * cell unset) and the res-0 FaceIJK.
    */
  private[h3] def aggregateDigits(fijk: FaceIJK, res: Int): (Long, FaceIJK) = {
    // Primitive-int unrolling of the CoordIJK chain (upAp7[r] → downAp7[r] →
    // diff → digit) — this is the latLngToCell hot loop and the case-class
    // version allocated ~15 objects per level. Same arithmetic, same
    // rounding, digit = 4i+2j+k of the normalized unit diff.
    var h = H3Index.setResolution(H3Index.Init, res)
    var ci = fijk.coord.i; var cj = fijk.coord.j; var ck = fijk.coord.k
    var r = res - 1
    while (r >= 0) {
      val li = ci; val lj = cj; val lk = ck
      // aperture-7 up-aggregate (ccw at odd child res, cw at even)
      val ii = ci - ck; val jj = cj - ck
      var ui = 0; var uj = 0; var uk = 0
      if (isResClassIII(r + 1)) {
        ui = math.round((3 * ii - jj) / 7.0).toInt
        uj = math.round((ii + 2 * jj) / 7.0).toInt
      } else {
        ui = math.round((2 * ii + jj) / 7.0).toInt
        uj = math.round((3 * jj - ii) / 7.0).toInt
      }
      if (ui < 0) { uj -= ui; uk -= ui; ui = 0 }
      if (uj < 0) { ui -= uj; uk -= uj; uj = 0 }
      if (uk < 0) { ui -= uk; uj -= uk; uk = 0 }
      var mn = if (ui < uj) ui else uj; if (uk < mn) mn = uk
      if (mn > 0) { ui -= mn; uj -= mn; uk -= mn }
      ci = ui; cj = uj; ck = uk
      // center of the parent in the child grid: downAp7 (ccw) / downAp7r (cw)
      var di = 0; var dj = 0; var dk = 0
      if (isResClassIII(r + 1)) {
        di = 3 * ui + uj; dj = 3 * uj + uk; dk = ui + 3 * uk
      } else {
        di = 3 * ui + uk; dj = ui + 3 * uj; dk = uj + 3 * uk
      }
      if (di < 0) { dj -= di; dk -= di; di = 0 }
      if (dj < 0) { di -= dj; dk -= dj; dj = 0 }
      if (dk < 0) { di -= dk; dj -= dk; dk = 0 }
      mn = if (di < dj) di else dj; if (dk < mn) mn = dk
      if (mn > 0) { di -= mn; dj -= mn; dk -= mn }
      // diff = last - center, normalized, must be a unit vector → digit
      var qi = li - di; var qj = lj - dj; var qk = lk - dk
      if (qi < 0) { qj -= qi; qk -= qi; qi = 0 }
      if (qj < 0) { qi -= qj; qk -= qj; qj = 0 }
      if (qk < 0) { qi -= qk; qj -= qk; qk = 0 }
      mn = if (qi < qj) qi else qj; if (qk < mn) mn = qk
      if (mn > 0) { qi -= mn; qj -= mn; qk -= mn }
      require(((qi | qj | qk) & ~1) == 0,
        s"non-unit digit diff ($qi,$qj,$qk) at res ${r + 1} from $fijk")
      h = H3Index.setDigit(h, r + 1, (qi << 2) | (qj << 1) | qk)
      r -= 1
    }
    (h, FaceIJK(fijk.face, CoordIJK(ci, cj, ck)))
  }

  /** Rotate a digit string into the base cell's canonical orientation. */
  private[h3] def applyBaseRotation(hDigits: Long, bc: Int, face: Int,
                                    numRots: Int): Long = {
    var h = H3Index.setBaseCell(hDigits, bc)
    if (BaseCells.isPentagon(bc)) {
      if (H3Index.leadingNonZeroDigit(h) == CoordIJK.K) {
        h = if (BaseCells.isCwOffset(bc, face)) H3Index.rotate60cw(h)
            else H3Index.rotate60ccw(h)
      }
      var i = 0
      while (i < numRots) { h = H3Index.rotatePent60ccw(h); i += 1 }
    } else {
      var i = 0
      while (i < numRots) { h = H3Index.rotate60ccw(h); i += 1 }
    }
    h
  }

  private[h3] def faceIjkToH3(fijk: FaceIJK, res: Int): Long = {
    val (hDigits, fijkBC) = aggregateDigits(fijk, res)
    val bc = BaseCells.faceIjkToBaseCell(fijkBC)
    require(bc >= 0, s"no base cell at $fijkBC (from $fijk res $res)")
    val numRots = BaseCells.faceIjkToBaseCellCCWrot60(fijkBC)
    require(numRots >= 0, s"unreachable base-cell position queried: $fijkBC")
    applyBaseRotation(hDigits, bc, fijkBC.face, numRots)
  }

  /** Cell → FaceIJK in the cell's own resolution grid. */
  private[h3] def h3ToFaceIjk(hIn: Long): FaceIJK = {
    var h = hIn
    val bc = H3Index.baseCell(h)
    if (BaseCells.isPentagon(bc) && H3Index.leadingNonZeroDigit(h) == CoordIJK.IK)
      h = H3Index.rotate60cw(h)
    val info = BaseCells.cells(bc)
    var fijk = FaceIJK(info.homeFace, info.homeIjk)
    val res0 = H3Index.resolution(h)
    // descend the digit string on the home face (primitive-int unrolling of
    // downAp7[r] + neighbor + normalize — same arithmetic as CoordIJK)
    var ci = fijk.coord.i; var cj = fijk.coord.j; var ck = fijk.coord.k
    var r = 1
    while (r <= res0) {
      var di = 0; var dj = 0; var dk = 0
      if (isResClassIII(r)) { di = 3 * ci + cj; dj = 3 * cj + ck; dk = ci + 3 * ck }
      else { di = 3 * ci + ck; dj = ci + 3 * cj; dk = cj + 3 * ck }
      val dig = H3Index.digit(h, r)
      di += (dig >> 2) & 1; dj += (dig >> 1) & 1; dk += dig & 1
      var mn = if (di < dj) di else dj; if (dk < mn) mn = dk
      if (mn > 0) { di -= mn; dj -= mn; dk -= mn }
      ci = di; cj = dj; ck = dk
      r += 1
    }
    val ijk = CoordIJK(ci, cj, ck)
    fijk = FaceIJK(fijk.face, ijk)
    val origIJK = ijk
    // adjust for overage onto a neighboring face if necessary
    var res = res0
    if (isResClassIII(res)) {
      fijk = FaceIJK(fijk.face, fijk.coord.downAp7r)
      res += 1
    }
    val pentLeading4 =
      BaseCells.isPentagon(bc) && H3Index.leadingNonZeroDigit(h) == CoordIJK.I
    val (adj, ov) = Icosa.adjustOverageClassII(fijk, res, pentLeading4, substrate = false)
    fijk = adj
    if (ov != Icosa.NoOverage) {
      if (BaseCells.isPentagon(bc)) {
        var again = true
        while (again) {
          val (a2, o2) = Icosa.adjustOverageClassII(fijk, res, pentLeading4 = false,
            substrate = false)
          fijk = a2
          again = o2 != Icosa.NoOverage
        }
      }
      if (res != res0) fijk = FaceIJK(fijk.face, fijk.coord.upAp7r)
    } else if (res != res0) {
      fijk = FaceIJK(fijk.face, origIJK)
    }
    fijk
  }

  /** Cell → centroid. */
  def cellToLatLng(h: Long): LatLng = {
    val fijk = h3ToFaceIjk(h)
    Icosa.faceIjkToGeo(fijk, H3Index.resolution(h))
  }

  def cellToParent(h: Long, parentRes: Int): Long = H3Index.toParent(h, parentRes)

  // ---------------------------------------------------------------- boundary

  /** Substrate-grid vertex offsets of an origin-centered cell:
    * Class II resolutions use an aperture 3/3r sequence; Class III adds 7r.
    */
  private val vertsCII = Array(
    CoordIJK(2, 1, 0), CoordIJK(1, 2, 0), CoordIJK(0, 2, 1),
    CoordIJK(0, 1, 2), CoordIJK(1, 0, 2), CoordIJK(2, 0, 1))
  private val vertsCIII = Array(
    CoordIJK(5, 4, 0), CoordIJK(1, 5, 0), CoordIJK(0, 5, 4),
    CoordIJK(0, 1, 5), CoordIJK(4, 0, 5), CoordIJK(5, 0, 1))

  /** Cell boundary vertices (lat/lng, counter-clockwise). Hexagons have 6
    * vertices, pentagons 5, plus — for Class III cells straddling an
    * icosahedron edge — the edge-crossing "distortion" vertices where the
    * cell edge bends between the two face projections (the published
    * boundary semantics; Class II hexagons have vertices on face edges and
    * never need them). Pentagons take the dedicated path below.
    */
  def cellToBoundary(h: Long): Array[LatLng] = {
    val fijk = h3ToFaceIjk(h)
    val res0 = H3Index.resolution(h)
    if (H3Index.isPentagon(h)) return pentBoundary(fijk, res0)
    // move the center to the substrate (aperture 3/3r [+7r]) grid
    var center = fijk.coord.downAp3.downAp3r
    var adjRes = res0
    if (isResClassIII(res0)) { center = center.downAp7r; adjRes += 1 }
    val verts = if (isResClassIII(res0)) vertsCIII else vertsCII
    val nVerts = 6
    val substrateVerts = Array.tabulate(nVerts) { vi =>
      FaceIJK(fijk.face, (center + verts(vi)).normalize)
    }

    val out = mutable.ArrayBuffer.empty[LatLng]
    var lastFace = -1
    var lastOverage: Icosa.Overage = Icosa.NoOverage
    // one extra iteration tests the closing edge for a distortion vertex
    var vert = 0
    while (vert < nVerts + 1) {
      val vi = vert % nVerts
      val orig = substrateVerts(vi)
      val (adj, overage) = Icosa.adjustOverageClassII(orig, adjRes,
        pentLeading4 = false, substrate = true)
      // a Class III cell edge crossing between two face projections bends
      // at the icosahedron edge: insert that intersection point
      if (isResClassIII(res0) && vert > 0 && adj.face != lastFace &&
          lastOverage != Icosa.FaceEdge) {
        val a = substrateVerts((vi + nVerts - 1) % nVerts).coord.toHex2d
        val b = orig.coord.toHex2d
        val maxDim = Icosa.maxDimByCIIres(adjRes).toDouble
        // the center face's triangle corners in substrate hex2d space
        val c0 = Vec2d(3.0 * maxDim, 0.0)
        val c1 = Vec2d(-1.5 * maxDim, 3.0 * Sqrt3_2 * maxDim)
        val c2 = Vec2d(-1.5 * maxDim, -3.0 * Sqrt3_2 * maxDim)
        val face2 = if (lastFace == fijk.face) adj.face else lastFace
        val (e0, e1) = Icosa.adjacentFaceDir(fijk.face)(face2) match {
          case Icosa.IJQuad => (c0, c1)
          case Icosa.JKQuad => (c1, c2)
          case Icosa.KIQuad => (c2, c0)
          case _ => (c0, c1) // unreachable for true neighbors
        }
        val inter = Icosa.v2dIntersect(a, b, e0, e1)
        val dupA = math.abs(inter.x - a.x) < 1e-9 && math.abs(inter.y - a.y) < 1e-9
        val dupB = math.abs(inter.x - b.x) < 1e-9 && math.abs(inter.y - b.y) < 1e-9
        if (!dupA && !dupB)
          out += Icosa.hex2dToGeo(inter, fijk.face, adjRes, substrate = true)
      }
      if (vert < nVerts)
        out += Icosa.hex2dToGeo(adj.coord.toHex2d, adj.face, adjRes, substrate = true)
      lastFace = adj.face
      lastOverage = overage
      vert += 1
    }
    out.toArray
  }

  /** Pentagon cell boundary. Pentagons sit astride an icosahedron vertex, so
    * their five boundary vertices land on five different faces at EVERY
    * resolution: vertex overage must iterate across faces with the
    * deleted-k-subsequence (pentLeading4) adjustment, and at Class III
    * resolutions each edge crosses an icosahedron edge mid-edge — the
    * crossing is found by mapping the current vertex into the previous
    * vertex's face frame and intersecting with that face's triangle side.
    * (Class II pentagon vertices lie ON face edges, so no extra points.)
    *
    * Vertex construction: all six hexagon offsets are settled across faces;
    * exactly one settles onto the same physical point as its predecessor
    * (the deleted-subsequence ghost — WHICH index duplicates depends on the
    * grid class) and is dropped, leaving five distinct vertices in ring
    * order on ring-adjacent faces. Validated by the res-0 audit (every cell
    * edge shared by exactly two cells, Σ areas = the WGS84 ellipsoid area
    * to 12 digits) and per-class probes at res 1-8.
    */
  private def pentBoundary(fijk: FaceIJK, res0: Int): Array[LatLng] = {
    var center = fijk.coord.downAp3.downAp3r
    var adjRes = res0
    if (isResClassIII(res0)) { center = center.downAp7r; adjRes += 1 }
    val verts = if (isResClassIII(res0)) vertsCIII else vertsCII

    // settle all six offsets onto their faces (pentLeading4 k-subsequence
    // adjustment on the first hop), keeping the geo position for dedup
    val settled = Array.tabulate(6) { vi =>
      var f = FaceIJK(fijk.face, (center + verts(vi)).normalize)
      var ov: Icosa.Overage = Icosa.NewFace
      var steps = 0
      while (ov == Icosa.NewFace && steps < 8) {
        val (a, o) = Icosa.adjustOverageClassII(f, adjRes,
          pentLeading4 = steps == 0, substrate = true)
        f = a; ov = o; steps += 1
      }
      require(ov != Icosa.NewFace, s"pentagon vertex overage did not settle: $f")
      (f, Icosa.hex2dToGeo(f.coord.toHex2d, f.face, adjRes, substrate = true))
    }
    // drop the one offset that lands on its predecessor's position
    val kept = mutable.ArrayBuffer.empty[(FaceIJK, LatLng)]
    settled.foreach { case (f, g) =>
      val dup = kept.lastOption.exists { case (_, pg) =>
        math.abs(pg.lat - g.lat) < 1e-11 && math.abs(pg.lng - g.lng) < 1e-11
      }
      if (!dup) kept += ((f, g))
    }
    require(kept.length == 5, s"pentagon boundary has ${kept.length} distinct vertices")

    val out = mutable.ArrayBuffer.empty[LatLng]
    var vert = 0
    while (vert < 5 + 1) { // extra iteration closes the last edge
      val (f, geo) = kept(vert % 5)
      val (lastF, _) = kept((vert + 4) % 5)
      // at Class III every pentagon edge crosses the icosahedron edge
      // between the two vertices' (ring-adjacent) faces: find the crossing
      // by mapping the current vertex into the previous vertex's face frame
      // and intersecting with that face's triangle side
      if (isResClassIII(res0) && vert > 0 && f.face != lastF.face) {
        val orig2d0 = lastF.coord.toHex2d
        val currentToLastDir = Icosa.adjacentFaceDir(f.face)(lastF.face)
        require(currentToLastDir >= 0,
          s"pentagon vertices on non-adjacent faces ${f.face}/${lastF.face}")
        val orient = Icosa.faceNeighbors(f.face)(currentToLastDir)
        var ijk = f.coord
        var r = 0
        while (r < orient.ccwRot60) { ijk = ijk.rotate60ccw; r += 1 }
        ijk = (ijk + orient.translate * (Icosa.unitScaleByCIIres(adjRes) * 3)).normalize
        val orig2d1 = ijk.toHex2d
        val maxDim = Icosa.maxDimByCIIres(adjRes).toDouble
        val c0 = Vec2d(3.0 * maxDim, 0.0)
        val c1 = Vec2d(-1.5 * maxDim, 3.0 * Sqrt3_2 * maxDim)
        val c2 = Vec2d(-1.5 * maxDim, -3.0 * Sqrt3_2 * maxDim)
        val (e0, e1) = Icosa.adjacentFaceDir(orient.face)(f.face) match {
          case Icosa.IJQuad => (c0, c1)
          case Icosa.JKQuad => (c1, c2)
          case Icosa.KIQuad => (c2, c0)
          case _ => (c0, c1) // unreachable for true neighbors
        }
        val inter = Icosa.v2dIntersect(orig2d0, orig2d1, e0, e1)
        out += Icosa.hex2dToGeo(inter, orient.face, adjRes, substrate = true)
      }
      if (vert < 5) out += geo
      vert += 1
    }
    out.toArray
  }

  // ------------------------------------------------------------- traversal

  /** Geometric neighbor discovery: step from the center through each
    * boundary-edge midpoint and index the resulting point. Table-free and
    * pentagon-safe (pentagons simply yield 5 neighbors).
    */
  def neighbors(h: Long): Array[Long] = {
    val res = H3Index.resolution(h)
    val c = cellToLatLng(h)
    val b = cellToBoundary(h)
    val out = mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i < b.length) {
      val m = b(i)
      val n = b((i + 1) % b.length)
      val mid = LatLng((m.lat + n.lat) / 2,
        if (math.abs(m.lng - n.lng) > math.Pi) {
          // edge crosses the antimeridian: average in shifted space
          LatLng.constrainLng((m.lng + n.lng) / 2 + math.Pi)
        } else (m.lng + n.lng) / 2)
      val az = c.azimuthTo(mid)
      val d = c.distRads(mid)
      val nb = latLngToCell(c.destination(az, d * 1.45), res)
      if (nb != h) out += nb
      i += 1
    }
    out.toArray
  }

  /** All cells within grid distance k of origin (BFS over neighbors). */
  def gridDisk(origin: Long, k: Int): Array[Long] = {
    val seen = mutable.HashSet(origin)
    var frontier = List(origin)
    var ring = 0
    while (ring < k && frontier.nonEmpty) {
      val next = mutable.ListBuffer.empty[Long]
      frontier.foreach { c =>
        neighbors(c).foreach { n => if (seen.add(n)) next += n }
      }
      frontier = next.toList
      ring += 1
    }
    seen.toArray
  }

  /** Grid distance between two cells of the same resolution: BFS ring
    * expansion from `a` until `b` appears. Upstream h3 computes this in
    * O(1) via local IJ coordinates; the BFS is O(distance²) neighbor
    * calls, so a `maxK` cap guards against cross-globe queries (upstream
    * also FAILS for distant pairs — whenever the local-IJ projection
    * overflows a face — so a bounded domain is inherent to the API).
    */
  def gridDistance(a: Long, b: Long, maxK: Int = 128): Int = {
    require(H3Index.resolution(a) == H3Index.resolution(b),
      s"gridDistance needs equal resolutions: $a vs $b")
    // O(1) local-IJ distance where defined (upstream h3Distance); BFS only
    // outside that domain (LocalIJ's own calibration uses the BFS directly)
    LocalIJ.gridDistance(a, b) match {
      case Some(d) => return d
      case None =>
    }
    gridDistanceBfs(a, b, maxK)
  }

  private[h3] def gridDistanceBfs(a: Long, b: Long, maxK: Int = 128): Int = {
    if (a == b) return 0
    val seen = mutable.HashSet(a)
    var frontier = List(a)
    var ring = 0
    while (ring < maxK && frontier.nonEmpty) {
      ring += 1
      val next = mutable.ListBuffer.empty[Long]
      frontier.foreach { c =>
        neighbors(c).foreach { n =>
          if (n == b) return ring
          if (seen.add(n)) next += n
        }
      }
      frontier = next.toList
    }
    throw new IllegalArgumentException(
      s"cells farther than $maxK apart (or unreachable)")
  }

  // ------------------------------------------------------------- hierarchy

  /** All descendants of `h` at `childRes` (published H3 hierarchy: each cell
    * has 7 children — center digit 0 plus 6 edge digits — except pentagons,
    * which skip digit 1, the deleted K subsequence, and have 6; the digit-0
    * child of a pentagon is again a pentagon).
    */
  def cellToChildren(h: Long, childRes: Int): Array[Long] = {
    val res = H3Index.resolution(h)
    require(childRes >= res && childRes <= Constants.MaxH3Res,
      s"childRes $childRes out of range [$res, ${Constants.MaxH3Res}]")
    val out = mutable.ArrayBuffer.empty[Long]
    def rec(cur: Long, r: Int): Unit = {
      if (r == childRes) { out += cur; return }
      val widened = H3Index.setResolution(cur, r + 1)
      val pent = H3Index.isPentagon(cur)
      var d = 0
      while (d <= 6) {
        if (!(pent && d == 1)) rec(H3Index.setDigit(widened, r + 1, d), r + 1)
        d += 1
      }
    }
    rec(h, res)
    out.toArray
  }

  /** Minimal mixed-resolution cover of a uniform-resolution cell set: any
    * complete sibling group (7 cells, 6 under a pentagon) collapses to its
    * parent, repeatedly. The classic H3 trick for shrinking stored
    * coverages; `uncompactCells` restores the original set exactly.
    */
  def compactCells(cells: Array[Long]): Array[Long] = {
    if (cells.isEmpty) return cells
    val res0 = H3Index.resolution(cells(0))
    require(cells.forall(H3Index.resolution(_) == res0),
      "compactCells requires a uniform-resolution input")
    val result = mutable.HashSet.empty[Long] ++ cells
    var frontier: Set[Long] = result.toSet
    var res = res0
    while (res > 0 && frontier.nonEmpty) {
      val promoted = frontier.groupBy(H3Index.toParent(_, res - 1)).collect {
        case (p, siblings)
            if siblings.size == (if (H3Index.isPentagon(p)) 6 else 7) => p
      }.toSet
      promoted.foreach { p =>
        result --= cellToChildren(p, res); result += p
      }
      frontier = promoted
      res -= 1
    }
    result.toArray.sorted
  }

  /** Inverse of [[compactCells]]: expand every cell to `res`. */
  def uncompactCells(cells: Array[Long], res: Int): Array[Long] =
    cells.flatMap(cellToChildren(_, res))

  // -------------------------------------------------------------- polyfill

  /** Point-in-polygon on lat/lng (even-odd rule), with holes. Matches the
    * centroid-containment semantics of h3 v3 polyfill.
    */
  private def pointInRing(p: LatLng, ring: Array[LatLng]): Boolean = {
    var inside = false
    var i = 0
    var j = ring.length - 1
    while (i < ring.length) {
      val a = ring(i); val b = ring(j)
      if ((a.lng > p.lng) != (b.lng > p.lng) &&
          p.lat < (b.lat - a.lat) * (p.lng - a.lng) / (b.lng - a.lng) + a.lat)
        inside = !inside
      j = i
      i += 1
    }
    inside
  }

  def pointInPolygon(p: LatLng, outer: Array[LatLng],
                     holes: Seq[Array[LatLng]] = Nil): Boolean =
    pointInRing(p, outer) && !holes.exists(pointInRing(p, _))

  /** Cells whose CENTROID lies inside the polygon (v3 polyfill semantics,
    * the behavior the reference pipeline depends on — SURVEY.md §2.7 note 2).
    * Strategy: index every polygon vertex, densely sample every edge, then
    * BFS outward from those seeds keeping (a) cells with centroid inside and
    * (b) boundary-adjacent cells as frontier carriers. Output = (a).
    */
  def polygonToCells(outer: Array[LatLng], holes: Seq[Array[LatLng]],
                     res: Int): Array[Long] = {
    if (outer.length < 3) return Array.empty
    polyfillBfs(outer, holes, res)._1
  }

  /** The BFS core shared by [[polygonToCells]] and [[polygonCoarseCover]]:
    * (cells with centroid inside, every visited cell). `visited` holds all
    * seeds (every cell the boundary passes through, by half-edge sampling),
    * every flood-reached inside cell, and one neighbor ring around each —
    * i.e. a superset of every cell containing any polygon-interior point.
    */
  private def polyfillBfs(outer: Array[LatLng], holes: Seq[Array[LatLng]],
                          res: Int): (Array[Long], mutable.HashSet[Long]) = {
    val seeds = mutable.HashSet.empty[Long]
    // sample edges at ~half-cell spacing so the seed chain is connected
    val step = hexEdgeLengthRads(res) / 2
    var i = 0
    while (i < outer.length) {
      val a = outer(i)
      val b = outer((i + 1) % outer.length)
      val d = a.distRads(b)
      val n = math.max(1, math.ceil(d / step).toInt)
      val az = a.azimuthTo(b)
      var s = 0
      while (s <= n) {
        seeds += latLngToCell(a.destination(az, d * s / n), res)
        s += 1
      }
      i += 1
    }
    val inside = mutable.HashSet.empty[Long]
    val visited = mutable.HashSet.empty[Long]
    val queue = mutable.Queue.empty[Long]
    seeds.foreach { c => if (visited.add(c)) queue.enqueue(c) }
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      val centerInside = pointInPolygon(cellToLatLng(c), outer, holes)
      if (centerInside) inside += c
      // expand from seeds (boundary chain) and from any inside cell
      if (centerInside || seeds.contains(c)) {
        neighbors(c).foreach { n => if (visited.add(n)) queue.enqueue(n) }
      }
    }
    (inside.toArray, visited)
  }

  /** SUPERSET ancestor cover at `coarseRes`: every res-R cell (R >
    * coarseRes) whose centroid lies inside the polygon has its coarseRes
    * ancestor in this set. Construction: the BFS `visited` set (every cell
    * containing an interior point, plus one ring) widened by one more
    * neighbor ring. The extra ring absorbs descendant-centroid OVERHANG —
    * aperture-7 children stick out of their ancestor by at most the
    * circumradius series Σ 7^(-k/2) ≈ 0.62 coarse edge lengths, so an
    * inside fine centroid lying just outside its coarse ancestor's boundary
    * still places that ancestor within one ring of a visited cell.
    * Over-covering is harmless (candidate tests that fail), under-covering
    * never happens — PolySplitSpec hammers set-equality of the split
    * polyfill against [[polygonToCells]] across shapes and latitudes.
    */
  def polygonCoarseCover(outer: Array[LatLng], holes: Seq[Array[LatLng]],
                         coarseRes: Int): Array[Long] = {
    if (outer.length < 3) return Array.empty
    val (_, visited) = polyfillBfs(outer, holes, coarseRes)
    val cover = mutable.HashSet.empty[Long] ++ visited
    visited.foreach(c => neighbors(c).foreach(cover += _))
    cover.toArray
  }

  /** Mean hexagon edge length in radians by resolution (published H3 table,
    * km on the sphere / earth radius).
    */
  def hexEdgeLengthRads(res: Int): Double = {
    val km = Array(1107.712591, 418.6760055, 158.2446558, 59.81085794,
      22.6063794, 8.544408276, 3.229482772, 1.220629759, 0.461354684,
      0.174375668, 0.065907807, 0.024910561, 0.009415526, 0.003559893,
      0.001348575, 0.000509713)
    km(res) / EarthRadiusKm
  }

  val EarthRadiusKm: Double = 6371.007180918475

  /** Mean hexagon area in km² by resolution (published H3 table) — used
    * only for ORDER-OF-MAGNITUDE cell-count estimates (polyfill split
    * planning), never for results.
    */
  def avgHexAreaKm2(res: Int): Double = AvgHexAreaKm2(res)
  private val AvgHexAreaKm2 = Array(
    4357449.416078381, 609788.441794133, 86801.780398997, 12393.434655088,
    1770.347654491, 252.903858182, 36.129062164, 5.161293360, 0.737327598,
    0.105332513, 0.015047502, 0.002149643, 0.000307092, 0.000043870,
    0.000006267, 0.000000895)

  // ------------------------------------------------------------------ path

  /** Cells along the line between two points at res. Primary path: the
    * exact h3 v3 `h3_line` algorithm — endpoint cells interpolated in
    * local-IJ cube space ([[LocalIJ.gridPathCells]]) — matching the
    * reference's line indexing (h3-pyspark `index_shape` → `h3_line`,
    * SURVEY.md §2.7). Where local-IJ is undefined (pentagon neighborhoods,
    * endpoints beyond adjacent base cells — upstream ERRORS there), falls
    * back to dense geodesic sampling at quarter-edge spacing, deduplicated,
    * ordered by first touch: strictly more useful than failing, and the
    * divergence domain is exactly upstream's failure domain.
    */
  def pathCells(a: LatLng, b: LatLng, res: Int): Array[Long] = {
    val start = latLngToCell(a, res)
    val end = latLngToCell(b, res)
    LocalIJ.gridPathCells(start, end).getOrElse(geodesicPathCells(a, b, res))
  }

  /** Every cell the geodesic from `a` to `b` touches (dense quarter-edge
    * sampling, deduplicated, ordered by first touch). This is a SUPERSET
    * primitive: unlike the IJ-space line (which cuts corners in grid
    * space), sampling follows the true geodesic, so cells the arc passes
    * through are never skipped — required by SpatialJoin's cover-cell
    * superset invariant. Also the fallback for [[pathCells]] where
    * local-IJ is undefined.
    */
  def geodesicPathCells(a: LatLng, b: LatLng, res: Int): Array[Long] = {
    val d = a.distRads(b)
    val step = hexEdgeLengthRads(res) / 4
    val n = math.max(1, math.ceil(d / step).toInt)
    val az = a.azimuthTo(b)
    val out = mutable.LinkedHashSet.empty[Long]
    var s = 0
    while (s <= n) {
      out += latLngToCell(a.destination(az, d * s / n), res)
      s += 1
    }
    out.toArray
  }

  // ------------------------------------------------------------ string API

  def latLngToCellString(latDeg: Double, lngDeg: Double, res: Int): String =
    H3Index.toHexString(latLngToCell(latDeg, lngDeg, res))

  def cellToParentString(cell: String, parentRes: Int): String =
    H3Index.toHexString(cellToParent(H3Index.fromHexString(cell), parentRes))
}
