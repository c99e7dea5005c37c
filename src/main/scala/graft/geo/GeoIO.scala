package graft.geo

import org.locationtech.jts.geom._
import org.locationtech.jts.io.{OrdinateFormat, WKBReader, WKBWriter, WKTReader, WKTWriter}
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.operation.valid.IsValidOp
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode

/** Geometry IO over JTS (jts-core 1.20, bundled with Spark's jars):
  * WKT/WKB/GeoJSON readers and writers plus the runtime encoding sniff the
  * reference applies to input geometry columns
  * (/root/reference/src/h3_indexer/utils/geospatial.py:18-52). GeoJSON is
  * hand-rolled on jackson (jts-io-common is not available offline).
  *
  * All functions are stateless-per-call (JTS readers are not thread-safe, so
  * they are constructed per call-site thread via ThreadLocal).
  */
object GeoIO {

  // OverlayNG before any JTS overlay class loads — same robustness fix the
  // reference applies cluster-wide (spark.py:104-107, apache/sedona#1612);
  // JTS 1.20 still defaults to the legacy overlay without it
  System.setProperty("jts.overlay", "ng")

  private val gf = new GeometryFactory(new PrecisionModel, 4326)
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(gf))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => {
    val w = new WKTWriter()
    // Lossless ordinates. The writer never snaps coordinates; its precision
    // model only sets how many fraction digits the formatter may print.
    // The default (16 significant digits) and any fixed width (FIXED(1e17)
    // gives 18 fraction digits, under 17 significant digits once |x| < 0.1)
    // drop the last bits of some doubles. With the formatter's maximum,
    // every ordinate prints as the shortest decimal that parses back to the
    // same double, in plain notation: `POINT (-122.42 0.005)` stays as is,
    // and WKT at rest round-trips bit-exact.
    w.setPrecisionModel(new PrecisionModel {
      override def getMaximumSignificantDigits: Int = OrdinateFormat.MAX_FRACTION_DIGITS
    })
    w
  })
  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(gf))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())
  private val mapper = new ObjectMapper()

  // ------------------------------------------------------------ F1/F2/F5

  def fromWkt(wkt: String): Geometry = wktReader.get.read(wkt)
  def toWkt(g: Geometry): String = wktWriter.get.write(g)

  def fromWkb(bytes: Array[Byte]): Geometry = wkbReader.get.read(bytes)
  def fromWkbHex(hex: String): Geometry = fromWkb(WKBReader.hexToBytes(hex))
  def toWkb(g: Geometry): Array[Byte] = wkbWriter.get.write(g)
  def toWkbHex(g: Geometry): String = WKBWriter.toHex(toWkb(g))

  // ------------------------------------------------------------ F3 GeoJSON

  def fromGeoJson(json: String): Geometry = fromGeoJsonNode(mapper.readTree(json))

  private def fromGeoJsonNode(n: JsonNode): Geometry = {
    val typ = n.get("type").asText()
    def coords = n.get("coordinates")
    def pt(c: JsonNode) = new Coordinate(c.get(0).asDouble(), c.get(1).asDouble())
    def line(c: JsonNode): Array[Coordinate] =
      (0 until c.size()).map(i => pt(c.get(i))).toArray
    def poly(c: JsonNode): Polygon = {
      val shell = gf.createLinearRing(line(c.get(0)))
      val holes = (1 until c.size()).map(i => gf.createLinearRing(line(c.get(i)))).toArray
      gf.createPolygon(shell, holes)
    }
    typ match {
      case "Point"           => gf.createPoint(pt(coords))
      case "LineString"      => gf.createLineString(line(coords))
      case "Polygon"         => poly(coords)
      case "MultiPoint"      => gf.createMultiPoint(
        (0 until coords.size()).map(i => gf.createPoint(pt(coords.get(i)))).toArray)
      case "MultiLineString" => gf.createMultiLineString(
        (0 until coords.size()).map(i => gf.createLineString(line(coords.get(i)))).toArray)
      case "MultiPolygon"    => gf.createMultiPolygon(
        (0 until coords.size()).map(i => poly(coords.get(i))).toArray)
      case "GeometryCollection" =>
        val gs = n.get("geometries")
        gf.createGeometryCollection(
          (0 until gs.size()).map(i => fromGeoJsonNode(gs.get(i))).toArray)
      case other => throw new IllegalArgumentException(s"unsupported GeoJSON type $other")
    }
  }

  // ------------------------------------------------------------ F4 writer

  def toGeoJson(g: Geometry): String = {
    val root = mapper.createObjectNode()
    def coordArr(c: Coordinate): ArrayNode = {
      val a = mapper.createArrayNode(); a.add(c.x); a.add(c.y); a
    }
    def lineArr(cs: Array[Coordinate]): ArrayNode = {
      val a = mapper.createArrayNode(); cs.foreach(c => a.add(coordArr(c))); a
    }
    def polyArr(p: Polygon): ArrayNode = {
      val a = mapper.createArrayNode()
      a.add(lineArr(p.getExteriorRing.getCoordinates))
      (0 until p.getNumInteriorRing).foreach(i =>
        a.add(lineArr(p.getInteriorRingN(i).getCoordinates)))
      a
    }
    g match {
      case p: Point =>
        root.put("type", "Point"); root.set[JsonNode]("coordinates", coordArr(p.getCoordinate))
      case l: LineString =>
        root.put("type", "LineString"); root.set[JsonNode]("coordinates", lineArr(l.getCoordinates))
      case p: Polygon =>
        root.put("type", "Polygon"); root.set[JsonNode]("coordinates", polyArr(p))
      case m: MultiPoint =>
        root.put("type", "MultiPoint")
        val a = mapper.createArrayNode()
        (0 until m.getNumGeometries).foreach(i =>
          a.add(coordArr(m.getGeometryN(i).asInstanceOf[Point].getCoordinate)))
        root.set[JsonNode]("coordinates", a)
      case m: MultiLineString =>
        root.put("type", "MultiLineString")
        val a = mapper.createArrayNode()
        (0 until m.getNumGeometries).foreach(i =>
          a.add(lineArr(m.getGeometryN(i).getCoordinates)))
        root.set[JsonNode]("coordinates", a)
      case m: MultiPolygon =>
        root.put("type", "MultiPolygon")
        val a = mapper.createArrayNode()
        (0 until m.getNumGeometries).foreach(i =>
          a.add(polyArr(m.getGeometryN(i).asInstanceOf[Polygon])))
        root.set[JsonNode]("coordinates", a)
      case other =>
        throw new IllegalArgumentException(s"unsupported geometry ${other.getGeometryType}")
    }
    mapper.writeValueAsString(root)
  }

  // ----------------------------------------------------- encoding sniffing

  sealed trait GeomEncoding
  case object Wkt extends GeomEncoding
  case object StringWkb extends GeomEncoding
  case object GeoJson extends GeomEncoding
  case object BinaryWkb extends GeomEncoding

  /** Sniff a string geometry encoding from its first character, mirroring
    * the reference's rules (geospatial.py:30-41): '{' → GeoJSON, leading
    * digit → hex WKB, else WKT.
    */
  def sniffString(sample: String): GeomEncoding = {
    val t = sample.trim
    if (t.isEmpty) Wkt
    else if (t.head == '{') GeoJson
    else if (t.head.isDigit) StringWkb
    else Wkt
  }

  def parseString(s: String): Geometry = sniffString(s) match {
    case GeoJson   => fromGeoJson(s)
    case StringWkb => fromWkbHex(s)
    case _         => fromWkt(s)
  }

  // ------------------------------------------------------------ F12/F13

  def isValid(g: Geometry): Boolean = new IsValidOp(g).isValid

  /** Repair an invalid geometry (ST_MakeValid parity via JTS GeometryFixer);
    * returns None when irreparable (reference drops such rows,
    * geospatial.py:150-166).
    */
  def makeValid(g: Geometry): Option[Geometry] =
    try {
      val fixed = if (isValid(g)) g else GeometryFixer.fix(g)
      if (fixed == null || fixed.isEmpty) None else Some(fixed)
    } catch { case _: Throwable => None }

  // ------------------------------------------------------------ F6

  def point(lon: Double, lat: Double): Point = gf.createPoint(new Coordinate(lon, lat))

  def factory: GeometryFactory = gf
}
