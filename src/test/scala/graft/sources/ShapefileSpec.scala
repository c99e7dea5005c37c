package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-trip test against shapefile bytes constructed from the published
  * ESRI spec (no fixture files exist offline, so the test IS the writer).
  */
class ShapefileSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  override def afterAll(): Unit = spark.stop()

  private def shpFile(records: Seq[Array[Byte]]): Array[Byte] = {
    val totalWords = (100 + records.map(r => 8 + r.length).sum) / 2
    val out = ByteBuffer.allocate(totalWords * 2)
    out.order(ByteOrder.BIG_ENDIAN)
    out.putInt(0, 9994)
    out.putInt(24, totalWords)
    out.order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(28, 1000)
    out.putInt(32, 1) // declared type (per-record types still honored)
    out.position(100)
    records.zipWithIndex.foreach { case (r, i) =>
      out.order(ByteOrder.BIG_ENDIAN)
      out.putInt(i + 1)
      out.putInt(r.length / 2)
      out.order(ByteOrder.LITTLE_ENDIAN)
      out.put(r)
    }
    out.array()
  }

  private def pointRec(x: Double, y: Double): Array[Byte] = {
    val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(1); b.putDouble(x); b.putDouble(y)
    b.array()
  }

  private def polygonRec(rings: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val nPts = rings.map(_.size).sum
    val b = ByteBuffer.allocate(4 + 32 + 8 + rings.size * 4 + nPts * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(5)
    (1 to 4).foreach(_ => b.putDouble(0)) // bbox (unused by reader)
    b.putInt(rings.size); b.putInt(nPts)
    rings.scanLeft(0)(_ + _.size).dropRight(1).foreach(b.putInt)
    rings.flatten.foreach { case (x, y) => b.putDouble(x); b.putDouble(y) }
    b.array()
  }

  private def dbf(names: Seq[(String, Char, Int, Int)],
                  rows: Seq[Seq[String]]): Array[Byte] = {
    val headerSize = 32 + 32 * names.size + 1
    val recordSize = 1 + names.map(_._3).sum
    val b = ByteBuffer.allocate(headerSize + rows.size * recordSize + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(0, 0x03.toByte)
    b.putInt(4, rows.size)
    b.putShort(8, headerSize.toShort)
    b.putShort(10, recordSize.toShort)
    names.zipWithIndex.foreach { case ((n, t, len, dec), i) =>
      val off = 32 + 32 * i
      n.getBytes("ASCII").take(10).zipWithIndex.foreach { case (c, j) => b.put(off + j, c) }
      b.put(off + 11, t.toByte)
      b.put(off + 16, len.toByte)
      b.put(off + 17, dec.toByte)
    }
    b.put(headerSize - 1, 0x0d.toByte)
    rows.zipWithIndex.foreach { case (r, i) =>
      var p = headerSize + i * recordSize
      b.put(p, ' '.toByte); p += 1
      r.zip(names).foreach { case (v, (_, _, len, _)) =>
        v.padTo(len, ' ').take(len).getBytes("ASCII").zipWithIndex
          .foreach { case (c, j) => b.put(p + j, c) }
        p += len
      }
    }
    b.array()
  }

  test("points + attributes round trip") {
    val dir: Path = Files.createTempDirectory("shp")
    Files.write(dir.resolve("pts.shp"),
      shpFile(Seq(pointRec(-122.4, 37.7), pointRec(151.2, -33.8))))
    Files.write(dir.resolve("pts.dbf"),
      dbf(Seq(("id", 'N', 4, 0), ("name", 'C', 8, 0), ("score", 'N', 8, 2)),
        Seq(Seq("   1", "alpha   ", "   12.50"), Seq("   2", "beta    ", "    7.25"))))
    val df = spark.read.format("shapefile").load(dir.resolve("pts.shp").toString)
    assert(df.columns.toSeq == Seq("geometry", "id", "name", "score"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getString(0) == "POINT (-122.4 37.7)")
    assert(rows(0).getLong(1) == 1L && rows(0).getString(2) == "alpha")
    assert(rows(1).getDouble(3) == 7.25)
    // parses with the engine's geometry reader
    assert(graft.geo.GeoIO.fromWkt(rows(1).getString(0)).getGeometryType == "Point")
  }

  test("polygon with hole round trips through JTS") {
    val dir: Path = Files.createTempDirectory("shp")
    val shell = Seq((0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0))
    val hole = Seq((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0))
    Files.write(dir.resolve("poly.shp"), shpFile(Seq(polygonRec(Seq(shell, hole)))))
    val df = spark.read.format("shapefile").load(dir.resolve("poly.shp").toString)
    val wkt = df.head().getString(0)
    val g = graft.geo.GeoIO.fromWkt(wkt)
    assert(g.getGeometryType == "Polygon")
    assert(math.abs(g.getArea - 15.0) < 1e-9) // 16 - 1 hole
  }

  test("two-island record becomes MULTIPOLYGON, hole assigned to its shell") {
    val dir: Path = Files.createTempDirectory("shp")
    // two CW outer rings in ONE record (the spec's multipolygon encoding)
    // plus a CCW hole inside the second island
    val island1 = Seq((0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (0.0, 0.0)) // CW, area 4
    val island2 = Seq((10.0, 0.0), (10.0, 4.0), (14.0, 4.0), (14.0, 0.0), (10.0, 0.0)) // CW, area 16
    val hole2 = Seq((11.0, 1.0), (12.0, 1.0), (12.0, 2.0), (11.0, 2.0), (11.0, 1.0)) // CCW, area 1
    Files.write(dir.resolve("multi.shp"),
      shpFile(Seq(polygonRec(Seq(island1, island2, hole2)))))
    val df = spark.read.format("shapefile").load(dir.resolve("multi.shp").toString)
    val wkt = df.head().getString(0)
    val g = graft.geo.GeoIO.fromWkt(wkt)
    assert(g.getGeometryType == "MultiPolygon", s"got $wkt")
    assert(g.getNumGeometries == 2)
    assert(math.abs(g.getArea - (4.0 + 16.0 - 1.0)) < 1e-9)
    assert(g.isValid, s"invalid multipolygon from $wkt")
  }
}
