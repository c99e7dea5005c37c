package graft.geo

import org.scalatest.funsuite.AnyFunSuite

/** The exact geodesic solver: distance vs Vincenty, azimuth orientation,
  * S12 antisymmetry, ring-area signs and pole winding.
  */
class GeodesicExactSpec extends AnyFunSuite {

  /** Vincenty inverse (1975), a test-only reference for the exact solver:
    * ~0.5 mm on ordinary segments, but it fails to converge near antipodes,
    * so the pairs below stay clear of them.
    */
  private def vincenty(lat1Deg: Double, lon1Deg: Double,
                       lat2Deg: Double, lon2Deg: Double): Double = {
    import GeodesicExact.{Aax => A, Bax => B, Flat => F}
    if (lat1Deg == lat2Deg && lon1Deg == lon2Deg) return 0.0
    val l = math.toRadians(lon2Deg - lon1Deg)
    val u1 = math.atan((1 - F) * math.tan(math.toRadians(lat1Deg)))
    val u2 = math.atan((1 - F) * math.tan(math.toRadians(lat2Deg)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)
    var lambda = l
    var iter = 0
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cosSqAlpha = 0.0; var cos2SigmaM = 0.0
    var converged = false
    while (iter < 200 && !converged) {
      val sinLambda = math.sin(lambda); val cosLambda = math.cos(lambda)
      sinSigma = math.sqrt(
        math.pow(cosU2 * sinLambda, 2) +
          math.pow(cosU1 * sinU2 - sinU1 * cosU2 * cosLambda, 2))
      if (sinSigma == 0.0) return 0.0 // coincident
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLambda
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinLambda / sinSigma
      cosSqAlpha = 1 - sinAlpha * sinAlpha
      cos2SigmaM =
        if (cosSqAlpha == 0.0) 0.0 // equatorial line
        else cosSigma - 2 * sinU1 * sinU2 / cosSqAlpha
      val c = F / 16 * cosSqAlpha * (4 + F * (4 - 3 * cosSqAlpha))
      val lambdaPrev = lambda
      lambda = l + (1 - c) * F * sinAlpha *
        (sigma + c * sinSigma *
          (cos2SigmaM + c * cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM)))
      if (math.abs(lambda - lambdaPrev) < 1e-12) converged = true
      iter += 1
    }
    val uSq = cosSqAlpha * (A * A - B * B) / (B * B)
    val aCoef = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val bCoef = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    val deltaSigma = bCoef * sinSigma *
      (cos2SigmaM + bCoef / 4 *
        (cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM) -
          bCoef / 6 * cos2SigmaM * (-3 + 4 * sinSigma * sinSigma) *
            (-3 + 4 * cos2SigmaM * cos2SigmaM)))
    B * aCoef * (sigma - deltaSigma)
  }

  test("distance agrees with Vincenty to its 0.5 mm accuracy") {
    val pairs = Seq(
      (37.7749, -122.4194, 37.8044, -122.2712),
      (40.6398, -73.7789, 51.4775, -0.46138),
      (-33.8688, 151.2093, -37.8136, 144.9631),
      (0.0, 0.0, 0.0, 10.0),
      (0.0, 0.0, 10.0, 0.0),
      (-5.0, 0.0, 5.0, 179.0),
      (60.0, -45.0, 60.0001, -45.0001),
      (89.9, 0.0, 89.9, 180.0))
    pairs.foreach { case (a, b, c, d) =>
      val v = vincenty(a, b, c, d)
      val k = GeodesicExact.distance(a, b, c, d)
      assert(math.abs(v - k) < 1e-3, s"($a,$b)->($c,$d): vincenty $v exact $k")
    }
  }

  test("azimuths point the right way") {
    def azi1(lat1: Double, lon1: Double, lat2: Double, lon2: Double) =
      math.toDegrees(GeodesicExact.inverse(lat1, lon1, lat2, lon2).azi1Rad)
    assert(math.abs(azi1(0, 0, 0, 10) - 90) < 1e-9)  // east
    assert(math.abs(azi1(10, 20, 30, 20) - 0) < 1e-9) // north
    assert(math.abs(math.abs(azi1(30, 20, 10, 20)) - 180) < 1e-9) // south
    assert(math.abs(azi1(0, 10, 0, 0) + 90) < 1e-9)  // west
  }

  test("S12 edge area is antisymmetric under direction reversal") {
    val pts = Seq((37.3, -121.9), (37.5, -122.2), (40.0, -100.0), (-12.0, 31.0))
    for ((la1, lo1) <- pts; (la2, lo2) <- pts if (la1, lo1) != (la2, lo2)) {
      val f = GeodesicExact.inverse(la1, lo1, la2, lo2).area
      val r = GeodesicExact.inverse(la2, lo2, la1, lo1).area
      assert(math.abs(f + r) <= 1e-6 * math.max(1.0, math.abs(f)),
        s"($la1,$lo1)<->($la2,$lo2): $f vs $r")
    }
  }

  test("ring area: sign by orientation, pole winding") {
    val sq = Array((10.0, 40.0), (11.0, 40.0), (11.0, 41.0), (10.0, 41.0))
    val ccw = GeodesicExact.ringArea(sq)
    val cw = GeodesicExact.ringArea(sq.reverse)
    assert(ccw > 0 && cw < 0 && math.abs(ccw + cw) < 1e-3)
    // ring around the north pole: area must be the polar cap, not the zone
    val cap = (0 until 36).map(i => (i * 10.0, 80.0)).toArray
    val capArea = GeodesicExact.ringArea(cap)
    val sphereCap = 2 * math.Pi * 6371008.8 * 6371008.8 *
      (1 - math.sin(math.toRadians(80)))
    assert(math.abs(capArea) < GeodesicExact.TotalArea / 4, "not normalized")
    assert(math.abs(math.abs(capArea) - sphereCap) / sphereCap < 0.02,
      s"cap $capArea vs sphere approx $sphereCap")
  }

  test("total ellipsoid area constant matches WGS84") {
    assert(math.abs(GeodesicExact.TotalArea / 1e6 - 510065621.724) < 1.0)
  }
}
