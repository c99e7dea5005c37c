package graft.geo

import org.locationtech.jts.geom.{Geometry, LineString, Polygon}

/** Exact WGS84 geodesic inverse + ellipsoidal polygon area, matching the
  * semantics of GeographicLib's Geodesic.Inverse / PolygonArea (what Sedona's
  * ST_LengthSpheroid / ST_AreaSpheroid delegate to — reference call sites
  * h3_indexer.py:202-204, 266-268; geospatial.py:128-135). The engine's one
  * geodesic solver: every length ([[lengthMeters]]) and area
  * ([[areaSqMeters]], [[ringArea]]) goes through [[inverse]].
  *
  * Formulation (Karney 2013, "Algorithms for geodesics", public): reduce to
  * the auxiliary sphere — reduced latitude β with tanβ = (1−f)tanφ, equator
  * azimuth α0 via Clairaut (sinα0 = sinα1 cosβ1), arc σ with
  * sinβ = cosα0 sinσ, spherical longitude ω with tanω = sinα0 tanσ. The
  * remaining relations are EXACT smooth integrals (no truncated series):
  *
  *   s12      = b ∫ √(1 + k² sin²σ) dσ,          k² = e′² cos²α0
  *   λ12      = ω12 − e² sinα0 ∫ h(σ) dσ,
  *              h(σ) = 1 / (1 + (1−f)√(1 + e′² cos²α0 sin²σ))
  *              (identity: 1 − (1−f)√(1+e′²u) = e²(1−u)/(1+(1−f)√(1+e′²u)),
  *               which removes the u→1 singularity algebraically)
  *   S12      = c2 (α2 − α1)                        [closed-form sphere term]
  *              + ∫ (A(φ) − c2 sinβ) dω/dσ dσ       [O(e²), →0 at the poles]
  *              − e² sinα0 ∫ A(φ) h(σ) dσ           [O(e²), smooth]
  *   A(φ)     = (b²/2) (sinφ/(1−e² sin²φ) + atanh(e sinφ)/e)  [zone function]
  *   c2       = A(π/2) = authalic radius²  (so 4π c2 = ellipsoid area)
  *
  * The inverse solve finds α1 ∈ [0, π] (canonical arrangement: β1 ≤ 0,
  * |β1| ≥ |β2|, λ12 ∈ [0, π]) by a bracketed secant iteration on the exact
  * λ12(α1), which is monotone with λ12(0) = 0 and λ12(π) = π. Integrals use
  * adaptive Gauss-Legendre to ~machine precision, so accuracy is limited by
  * double rounding (~1e-14 rad in azimuths for km-scale edges), not by a
  * series order.
  */
object GeodesicExact {

  val Aax = 6378137.0
  val Flat = 1.0 / 298.257223563
  val F1 = 1.0 - Flat
  val Bax = Aax * F1
  val E2 = Flat * (2.0 - Flat)
  val Ep2 = E2 / (1.0 - E2)
  private val E = math.sqrt(E2)

  /** c2 = authalic radius squared; total ellipsoid area = 4π c2. */
  val C2: Double = Aax * Aax / 2.0 +
    Bax * Bax / 2.0 * (0.5 * math.log((1 + E) / (1 - E))) / E
  val TotalArea: Double = 4.0 * math.Pi * C2

  // -------------------------------------------------------- Gauss-Legendre
  // nodes/weights computed at init by Newton on P_n (no hardcoded digits)
  private def legendre(n: Int): (Array[Double], Array[Double]) = {
    val x = new Array[Double](n); val w = new Array[Double](n)
    var i = 0
    while (i < (n + 1) / 2) {
      var z = math.cos(math.Pi * (i + 0.75) / (n + 0.5))
      var dp = 0.0
      var it = 0
      var delta = 1.0
      while (it < 100 && math.abs(delta) > 1e-16) {
        var p0 = 1.0; var p1 = 0.0
        var j = 0
        while (j < n) { val p2 = p1; p1 = p0; p0 = ((2 * j + 1) * z * p1 - j * p2) / (j + 1); j += 1 }
        dp = n * (z * p0 - p1) / (z * z - 1.0)
        delta = p0 / dp
        z -= delta
        it += 1
      }
      x(i) = -z; x(n - 1 - i) = z
      w(i) = 2.0 / ((1.0 - z * z) * dp * dp); w(n - 1 - i) = w(i)
      i += 1
    }
    (x, w)
  }
  private val (gx, gw) = legendre(12)
  private val (gx6, gw6) = legendre(6)

  private def gl12(f: Double => Double, a: Double, b: Double): Double = {
    val c = (a + b) / 2; val h = (b - a) / 2
    var s = 0.0; var i = 0
    while (i < 12) { s += gw(i) * f(c + h * gx(i)); i += 1 }
    s * h
  }

  private def gl6(f: Double => Double, a: Double, b: Double): Double = {
    val c = (a + b) / 2; val h = (b - a) / 2
    var s = 0.0; var i = 0
    while (i < 6) { s += gw6(i) * f(c + h * gx6(i)); i += 1 }
    s * h
  }

  /** Short intervals downshift to a single GL6 panel: for these integrands
    * (period-π smooth compositions with derivative scale ≲ 1) the GL6 error
    * term carries (b−a)^13 / (13·(12!)³/(6!)⁴) ≈ (b−a)^13 · 4e-16, i.e.
    * ≤ 1e-32 relative at 0.05 rad — machine-precise, 6 evals instead of 36.
    * Hexagon cell edges (res ≥ 1: < 0.07 rad) all take this path; long arcs
    * keep the composite/adaptive GL12.
    */
  private val ShortArc = 0.05

  /** Adaptive GL12: halve until the halves agree with the whole. */
  private def adapt(f: Double => Double, a: Double, b: Double,
                    tol: Double, depth: Int = 0): Double = {
    if (math.abs(b - a) <= ShortArc) return gl6(f, a, b)
    val whole = gl12(f, a, b)
    if (depth >= 24) return whole
    val m = (a + b) / 2
    val halves = gl12(f, a, m) + gl12(f, m, b)
    if (math.abs(halves - whole) <= tol) halves
    else adapt(f, a, m, tol / 2, depth + 1) + adapt(f, m, b, tol / 2, depth + 1)
  }

  /** Composite fixed GL12 over ≤0.5-rad segments (smooth integrands). */
  private def fixed(f: Double => Double, a: Double, b: Double): Double = {
    if (math.abs(b - a) <= ShortArc) return gl6(f, a, b)
    val n = math.max(1, math.ceil(math.abs(b - a) / 0.5).toInt)
    var s = 0.0; var i = 0
    while (i < n) { s += gl12(f, a + (b - a) * i / n, a + (b - a) * (i + 1) / n); i += 1 }
    s
  }

  // ------------------------------------------------------------ ingredients

  private def atanhx(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))

  /** Zone function A(φ) given sinφ: area between equator and latitude φ per
    * unit longitude; A(π/2) = c2 exactly.
    */
  private def zone(sinPhi: Double): Double =
    Bax * Bax / 2.0 * (sinPhi / (1 - E2 * sinPhi * sinPhi) + atanhx(E * sinPhi) / E)

  /** h(σ) of the exact λ relation (bounded in (0, 1/2], smooth). */
  private def hFn(cosA0sq: Double)(sig: Double): Double = {
    val s = math.sin(sig)
    1.0 / (1.0 + F1 * math.sqrt(1.0 + Ep2 * cosA0sq * s * s))
  }

  final case class Inv(s12: Double, azi1Rad: Double, azi2Rad: Double, area: Double)

  /** Solve the inverse problem; lat/lon in DEGREES. `area` is S12 in m², the
    * signed area between the geodesic, the equator, and the two closing
    * meridians (the PolygonArea edge term).
    */
  def inverse(lat1Deg: Double, lon1Deg: Double,
              lat2Deg: Double, lon2Deg: Double): Inv = {
    val phi1 = math.toRadians(math.max(-90.0, math.min(90.0, lat1Deg)))
    val phi2 = math.toRadians(math.max(-90.0, math.min(90.0, lat2Deg)))
    // normalized longitude difference in (-π, π]
    var lam12 = math.toRadians(lon2Deg - lon1Deg) % (2 * math.Pi)
    if (lam12 > math.Pi) lam12 -= 2 * math.Pi
    if (lam12 <= -math.Pi) lam12 += 2 * math.Pi

    if (phi1 == phi2 && lam12 == 0.0) return Inv(0.0, 0.0, 0.0, 0.0)

    // reduced latitudes
    def beta(phi: Double): Double = math.atan(F1 * math.tan(phi)) match {
      case b if phi == math.Pi / 2 => math.Pi / 2
      case b if phi == -math.Pi / 2 => -math.Pi / 2
      case b => b
    }
    var b1 = beta(phi1); var b2 = beta(phi2)

    // canonical arrangement: swap so |b1| >= |b2|; flip hemispheres so
    // b1 <= 0; flip east-west so target λ ∈ [0, π]
    val swap = math.abs(b1) < math.abs(b2)
    if (swap) { val t = b1; b1 = b2; b2 = t; lam12 = -lam12 } // swapped endpoints reverse Δλ
    val latsign = if (b1 > 0) -1.0 else 1.0
    b1 *= latsign; b2 *= latsign
    val lonsign = if (lam12 < 0) -1.0 else 1.0
    val lamT = lam12 * lonsign // ∈ [0, π]

    // both points on the equator, short arc: the equator is the geodesic
    if (b1 == 0.0 && b2 == 0.0 && lamT <= math.Pi * F1) {
      val s = Aax * lamT
      val az = math.Pi / 2 * lonsign
      return Inv(s, az, az, 0.0)
    }
    // degenerate both-equatorial long arc: nudge off the equator (effect
    // ~1e-12 rad ≈ 6 µm; documented)
    if (b1 == 0.0) b1 = -1e-12

    val sb1 = math.sin(b1); val cb1 = math.cos(b1)
    val sb2 = math.sin(b2); val cb2 = math.cos(b2)

    // geometry for a trial azimuth α1 ∈ [0, π] at the canonical P1
    final case class Geom(sinA0: Double, cosA0sq: Double,
                          sig1: Double, sig2: Double, om12: Double,
                          cosA1: Double, sinA2: Double, cosA2: Double)
    def geom(alpha1: Double): Geom = {
      val sa1 = math.sin(alpha1); val ca1 = math.cos(alpha1)
      val sinA0 = sa1 * cb1
      val cosA0sq = 1.0 - sinA0 * sinA0
      val sig1 = math.atan2(sb1, ca1 * cb1)
      // Clairaut at P2 with the non-negative cosine branch (canonical form
      // keeps P2's azimuth in [0, π/2] on the shortest path)
      val ca2sq = math.max(0.0, ca1 * ca1 * cb1 * cb1 + (cb2 * cb2 - cb1 * cb1))
      val ca2 = math.sqrt(ca2sq) / cb2
      val sa2 = sinA0 / cb2
      val sig2 = math.atan2(sb2, ca2 * cb2)
      val om1 = math.atan2(sinA0 * math.sin(sig1), math.cos(sig1))
      val om2 = math.atan2(sinA0 * math.sin(sig2), math.cos(sig2))
      Geom(sinA0, cosA0sq, sig1, sig2, om2 - om1, ca1, sa2, ca2)
    }
    def lamOf(g: Geom): Double =
      g.om12 - E2 * g.sinA0 * fixed(hFn(g.cosA0sq), g.sig1, g.sig2)

    // bracketed secant on the monotone λ12(α1): λ12(0)=0, λ12(π)=π
    var lo = 0.0; var hi = math.Pi
    // starting guess: the auxiliary-sphere triangle with the longitude
    // pre-scaled by w̄ = √(1 − e²cos²βm) (Karney 2013 eq. 48's ω ≈ λ/w̄) —
    // within O(e⁴) of the root, so the secant typically closes in 2-4
    // iterations instead of the plain spherical guess's ~8
    val cbm = math.cos((b1 + b2) / 2)
    val wbar = math.sqrt(1.0 - E2 * cbm * cbm)
    val omgGuess = math.min(math.Pi, lamT / wbar)
    var alpha = math.atan2(cb2 * math.sin(omgGuess),
      cb1 * sb2 - sb1 * cb2 * math.cos(omgGuess))
    if (!(alpha > lo && alpha < hi)) alpha = (lo + hi) / 2
    var g = geom(alpha)
    var r = lamOf(g) - lamT
    var alphaPrev = if (r > 0) hi else lo
    var rPrev = if (r > 0) math.Pi - lamT else -lamT
    var it = 0
    while (it < 100 && math.abs(r) > 1e-15 && hi - lo > 1e-16) {
      if (r > 0) hi = alpha else lo = alpha
      var next = alpha - r * (alpha - alphaPrev) / (r - rPrev)
      if (!(next > lo && next < hi) || next.isNaN) next = (lo + hi) / 2
      alphaPrev = alpha; rPrev = r
      alpha = next
      g = geom(alpha)
      r = lamOf(g) - lamT
      it += 1
    }

    // s12 by the exact arc integral
    val k2 = Ep2 * g.cosA0sq
    val s12 = Bax * fixed(
      sig => { val s = math.sin(sig); math.sqrt(1.0 + k2 * s * s) },
      g.sig1, g.sig2)

    // azimuths in the canonical frame
    val alpha1c = alpha
    val alpha2c = math.atan2(g.sinA2, g.cosA2)

    // S12: sphere term + two O(e²) corrections (see object scaladoc)
    val sinA0 = g.sinA0
    val ca0sq = g.cosA0sq
    // (A(φ) − c2·sinβ) · dω/dσ: the numerator vanishes at both the equator
    // and the poles (A(π/2) = c2 exactly), keeping the product bounded where
    // dω/dσ = sinα0/(1 − cos²α0 sin²σ) peaks on near-polar passages
    def zoneMinusSphere(sig: Double): Double = {
      val ss = math.sin(sig)
      val sb = math.sqrt(ca0sq) * ss // sinβ
      val cbq = 1.0 - sb * sb // cos²β
      // sinφ from sinβ: tanφ = tanβ/(1−f)
      val hyp = math.sqrt(sb * sb + F1 * F1 * cbq)
      val sinPhi = if (hyp == 0) 0.0 else sb / hyp
      (zone(sinPhi) - C2 * sb) * sinA0 / (1.0 - ca0sq * ss * ss)
    }
    def zoneCorr(sig: Double): Double = {
      val sb = math.sqrt(ca0sq) * math.sin(sig)
      val cbq = 1.0 - sb * sb
      val hyp = math.sqrt(sb * sb + F1 * F1 * cbq)
      val sinPhi = if (hyp == 0) 0.0 else sb / hyp
      zone(sinPhi) * hFn(ca0sq)(sig)
    }
    val areaCan =
      if (sinA0 == 0.0) 0.0 // meridional: dλ ≡ 0
      else {
        val sphere = C2 * (alpha2c - alpha1c)
        val diff = adapt(zoneMinusSphere, g.sig1, g.sig2, 1e-16 * C2)
        val corr = -E2 * sinA0 * fixed(zoneCorr, g.sig1, g.sig2)
        sphere + diff + corr
      }

    // un-transform azimuths: canonical → original frame. Reversal maps a
    // forward azimuth to the other endpoint's azimuth + π; the hemisphere
    // mirror maps α → π − α; the east-west mirror maps α → −α.
    val (a1f, a2f) = {
      var x1 = alpha1c; var x2 = alpha2c
      if (swap) { val t = x1; x1 = x2 + math.Pi; x2 = t + math.Pi }
      if (latsign < 0) { x1 = math.Pi - x1; x2 = math.Pi - x2 }
      if (lonsign < 0) { x1 = -x1; x2 = -x2 }
      def norm(a: Double): Double = {
        var v = a % (2 * math.Pi)
        if (v > math.Pi) v -= 2 * math.Pi
        if (v <= -math.Pi) v += 2 * math.Pi
        v
      }
      (norm(x1), norm(x2))
    }

    val areaSign = (if (swap) -1.0 else 1.0) * latsign * lonsign
    Inv(s12, a1f, a2f, areaCan * areaSign)
  }

  /** Geodesic distance in meters (degrees in). */
  def distance(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    inverse(lat1, lon1, lat2, lon2).s12

  /** Signed ellipsoidal area (m²) of a ring of (lonDeg, latDeg) vertices
    * (closed or open); positive for counter-clockwise. Pole-encircling rings
    * are handled via the longitude winding number.
    */
  def ringArea(ring: Array[(Double, Double)]): Double = {
    val n = if (ring.length > 1 && ring(0) == ring(ring.length - 1))
      ring.length - 1 else ring.length
    if (n < 3) return 0.0
    var sumS = 0.0
    var sumLam = 0.0
    var i = 0
    while (i < n) {
      val (lon1, lat1) = ring(i)
      val (lon2, lat2) = ring((i + 1) % n)
      val inv = inverse(lat1, lon1, lat2, lon2)
      sumS += inv.area
      var dl = math.toRadians(lon2 - lon1) % (2 * math.Pi)
      if (dl > math.Pi) dl -= 2 * math.Pi
      if (dl <= -math.Pi) dl += 2 * math.Pi
      sumLam += dl
      i += 1
    }
    val w = math.round(sumLam / (2 * math.Pi)).toDouble
    // CCW ring, no pole: area = −ΣS; pole enclosed: add W·(total/2)
    var area = w * TotalArea / 2.0 - sumS
    // normalize into (−total/2, total/2]
    if (area > TotalArea / 2) area -= TotalArea
    if (area <= -TotalArea / 2) area += TotalArea
    area
  }

  /** Geodesic length in meters of a (multi)linestring with lon/lat degree
    * coordinates (ST_LengthSpheroid).
    */
  def lengthMeters(g: Geometry): Double = g match {
    case l: LineString =>
      val cs = l.getCoordinates
      var total = 0.0
      var i = 1
      while (i < cs.length) {
        total += distance(cs(i - 1).y, cs(i - 1).x, cs(i).y, cs(i).x)
        i += 1
      }
      total
    case other =>
      (0 until other.getNumGeometries).map(i => lengthMeters(other.getGeometryN(i))).sum
  }

  /** Geodesic area in m² of a (multi)polygon with lon/lat degree coordinates
    * (ST_AreaSpheroid). Holes are subtracted.
    */
  def areaSqMeters(g: Geometry): Double = g match {
    case p: Polygon =>
      def ring(cs: Array[org.locationtech.jts.geom.Coordinate]) =
        math.abs(ringArea(cs.map(c => (c.x, c.y))))
      val shell = ring(p.getExteriorRing.getCoordinates)
      val holes = (0 until p.getNumInteriorRing)
        .map(i => ring(p.getInteriorRingN(i).getCoordinates)).sum
      shell - holes
    case other =>
      (0 until other.getNumGeometries).map(i => areaSqMeters(other.getGeometryN(i))).sum
  }
}
