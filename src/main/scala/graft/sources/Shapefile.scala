package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** ESRI shapefile record decoding (S2 of SURVEY.md §2.1 — the reference
  * uses Sedona's `shapefile` DataSource, spark/spark.py:58-73) for the
  * DataSource V2 reader [[ShapefileV2]]. Implements the published public
  * format: .shp geometry records (Point / MultiPoint / PolyLine / Polygon) +
  * the sibling .dbf attribute table (dBASE III).
  *
  * Geometries surface as WKT strings (the engine's geometry-at-rest form).
  */
object Shapefile {

  // ------------------------------------------------------------------ .shp

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  private[sources] def parseRecord(b: ByteBuffer): String = {
    val shapeType = b.getInt
    shapeType match {
      case 0 => null // null shape
      case 1 | 11 | 21 => // Point / PointZ / PointM (XY honored)
        s"POINT (${fmt(b.getDouble)} ${fmt(b.getDouble)})"
      case 8 => // MultiPoint
        b.position(b.position() + 32) // skip bbox
        val n = b.getInt
        val pts = Seq.fill(n)(s"${fmt(b.getDouble)} ${fmt(b.getDouble)}")
        s"MULTIPOINT (${pts.mkString(", ")})"
      case 3 | 13 | 23 => // PolyLine
        val parts = readParts(b)
        if (parts.length == 1) s"LINESTRING (${ring(parts.head)})"
        else s"MULTILINESTRING (${parts.map(p => s"(${ring(p)})").mkString(", ")})"
      case 5 | 15 | 25 => // Polygon: rings classified by winding (see polygonWkt)
        polygonWkt(readParts(b))
      case other =>
        throw new IllegalArgumentException(s"unsupported shape type $other")
    }
  }

  private def readParts(b: ByteBuffer): Array[Array[(Double, Double)]] = {
    b.position(b.position() + 32) // skip bbox
    val numParts = b.getInt
    val numPoints = b.getInt
    val partOffsets = Array.fill(numParts)(b.getInt)
    val pts = Array.fill(numPoints)((b.getDouble, b.getDouble))
    Array.tabulate(numParts) { i =>
      val from = partOffsets(i)
      val until = if (i + 1 < numParts) partOffsets(i + 1) else numPoints
      pts.slice(from, until)
    }
  }

  private def ring(pts: Array[(Double, Double)]): String =
    pts.map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }.mkString(", ")

  /** Twice the signed shoelace area; negative = clockwise. The shapefile
    * spec encodes outer rings clockwise and holes counterclockwise — a
    * multi-island polygon is ONE record with several CW rings, so "first
    * ring = shell, rest = holes" (round-1 behavior) turned the second
    * island into a hole of the first.
    */
  private def signedArea2(pts: Array[(Double, Double)]): Double = {
    var s = 0.0
    var i = 0
    while (i < pts.length) {
      val (x1, y1) = pts(i)
      val (x2, y2) = pts((i + 1) % pts.length)
      s += x1 * y2 - x2 * y1
      i += 1
    }
    s
  }

  /** Even-odd ray cast of point p against a ring. */
  private def ringContains(r: Array[(Double, Double)], p: (Double, Double)): Boolean = {
    var inside = false
    var i = 0
    var j = r.length - 1
    while (i < r.length) {
      val (xi, yi) = r(i)
      val (xj, yj) = r(j)
      if ((yi > p._2) != (yj > p._2) &&
          p._1 < (xj - xi) * (p._2 - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Classify rings by winding (CW = shell, CCW = hole), assign each hole to
    * the shell containing it, emit POLYGON or MULTIPOLYGON accordingly.
    */
  private def polygonWkt(parts: Array[Array[(Double, Double)]]): String = {
    if (parts.isEmpty) return null
    val shells = mutable.ArrayBuffer.empty[(Array[(Double, Double)], mutable.ArrayBuffer[Array[(Double, Double)]])]
    val holes = mutable.ArrayBuffer.empty[Array[(Double, Double)]]
    parts.foreach { p =>
      if (signedArea2(p) < 0) shells += ((p, mutable.ArrayBuffer.empty))
      else holes += p
    }
    if (shells.isEmpty) {
      // degenerate winding (nonconformant writer): fall back to
      // first-ring-shell so the record still surfaces
      shells += ((parts.head, mutable.ArrayBuffer.empty))
      holes.clear()
      parts.tail.foreach(holes += _)
    }
    holes.foreach { h =>
      val owner = shells.find { case (s, _) => ringContains(s, h.head) }
        .getOrElse(shells.head)
      owner._2 += h
    }
    def rings(s: (Array[(Double, Double)], mutable.ArrayBuffer[Array[(Double, Double)]])): String =
      (s._1 +: s._2).map(r => s"(${ring(r)})").mkString(", ")
    if (shells.length == 1) s"POLYGON (${rings(shells.head)})"
    else s"MULTIPOLYGON (${shells.map(s => s"(${rings(s)})").mkString(", ")})"
  }

  // ------------------------------------------------------------------ .dbf

  final case class DbfField(name: String, typ: Char, len: Int, dec: Int)

  /** dBASE III header metadata + per-record decoder. */
  final case class DbfMeta(fields: Seq[DbfField], headerSize: Int,
                           recordSize: Int) {
    def schema: Seq[StructField] = fields.map { f =>
      val dt = f.typ match {
        case 'N' if f.dec == 0 && f.len < 19 => LongType
        case 'N' | 'F' => DoubleType
        case 'L' => BooleanType
        case _ => StringType // C, D, and anything exotic
      }
      StructField(f.name, dt, nullable = true)
    }

    /** Decode one record given its raw bytes (including the deletion flag). */
    def decode(rec: Array[Byte]): Seq[Any] = {
      var p = 1 // skip the deletion flag
      fields.map { f =>
        val raw = new String(rec, p, f.len, "ASCII").trim
        p += f.len
        f.typ match {
          case 'N' if f.dec == 0 && f.len < 19 =>
            if (raw.isEmpty) null else java.lang.Long.valueOf(raw)
          case 'N' | 'F' =>
            if (raw.isEmpty) null else java.lang.Double.valueOf(raw)
          case 'L' => raw.headOption match {
            case Some(c) if "YyTt".contains(c) => java.lang.Boolean.TRUE
            case Some(c) if "NnFf".contains(c) => java.lang.Boolean.FALSE
            case _ => null
          }
          case _ => if (raw.isEmpty) null else raw
        }
      }
    }
  }

  /** Parse a .dbf header from its leading bytes (≥ 32 + 32·nFields). */
  private[sources] def dbfMeta(bytes: Array[Byte]): DbfMeta = {
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val headerSize = le.getShort(8).toInt & 0xffff
    val recordSize = le.getShort(10).toInt & 0xffff
    val fields = mutable.ArrayBuffer.empty[DbfField]
    var off = 32
    while (off + 32 <= headerSize && bytes(off) != 0x0d) {
      val name = new String(bytes, off, 11, "ASCII").takeWhile(_ != 0).trim
      val typ = bytes(off + 11).toChar
      val len = bytes(off + 16) & 0xff
      val dec = bytes(off + 17) & 0xff
      fields += DbfField(name, typ, len, dec)
      off += 32
    }
    DbfMeta(fields.toSeq, headerSize, recordSize)
  }
}
