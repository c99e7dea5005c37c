package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, hex}
import org.apache.spark.sql.types.BinaryType
import org.locationtech.jts.geom.{Geometry, LineString, Polygon}
import graft.engine.{GraftFunctions, GraftJob}
import graft.geo.{ConvexClip, GeoIO, GeodesicExact, H3Geo}
import graft.h3.{H3, LatLng}
import graft.model.{Job, VectorInput}

/** Kernel µs/op, timed single-threaded on the driver over a sample of the
  * workload's own features (a variant no unit has indexed, so the cell memo
  * is cold for `geo.cellInfo_us`). Each figure is the median of three
  * timed passes after one untimed pass. A kernel the workload's indexer
  * never calls reports 0.
  */
object Kernels {
  private val MaxFeatures = 5000
  private val MaxOps = 30000
  private var sink = 0L // keeps results live

  private def usPerOp(ops: Int)(pass: Int => Unit): Double =
    if (ops == 0) 0.0 else {
      pass(0)
      Main.median((1 to 3).map { p =>
        val t0 = System.nanoTime(); pass(p); (System.nanoTime() - t0) / 1e3 / ops
      })
    }

  private def cap[T](xs: Seq[T], n: Int = MaxOps): IndexedSeq[T] = xs.take(n).toIndexedSeq

  private def lonLat(b: Array[LatLng]): Array[(Double, Double)] =
    b.map(v => (math.toDegrees(v.lng), math.toDegrees(v.lat)))

  def run(spark: SparkSession, job: Job): Map[String, Double] = {
    val res = job.h3Resolution
    val vectors = job.inputs.collect { case v: VectorInput => v }
    // validator-form geometry strings (hex for WKB, as Validator feeds
    // st_makevalid) and lat/lon points
    val strs = ArrayBuffer.empty[String]
    val points = ArrayBuffer.empty[(Double, Double)]
    vectors.foreach { in =>
      val df = GraftJob.loadInput(spark, in)
      (in.geometryColumn, in.latColumn, in.lonColumn) match {
        case (Some(g), _, _) =>
          val c = if (df.schema(g).dataType == BinaryType) hex(col(g)) else col(g).cast("string")
          strs ++= df.select(c).where(c.isNotNull).limit(MaxFeatures).collect().map(_.getString(0))
        case (None, Some(la), Some(lo)) =>
          points ++= df.select(col(la), col(lo)).na.drop().limit(MaxFeatures).collect()
            .map(r => (r.getDouble(0), r.getDouble(1)))
        case _ => ()
      }
    }
    val geoms: IndexedSeq[Geometry] = (strs.flatMap(s =>
      Option(GraftFunctions.makeValidWkt(s)).map(GeoIO.parseString)) ++
      points.map { case (la, lo) => GeoIO.point(lo, la) }).toIndexedSeq
    val vertices = cap(geoms.flatMap(_.getCoordinates.map(c => (c.y, c.x))))
    val cellsOf = geoms.map(g => GraftFunctions.indexGeometry(g, res))
    val cells = cap(cellsOf.flatten.distinct)
    val boundaries = cells.map(c => lonLat(H3.cellToBoundary(c)))
    // (feature, cell) pairs that take the ratio clip, by feature dimension
    def pairs(dim: Int) = geoms.indices.filter(i => geoms(i).getDimension == dim)
      .flatMap(i => cellsOf(i).map(c => (geoms(i), c)))
    val areaPairs = cap(pairs(2))
    val lengthPairs = cap(pairs(1))
    val memoCells = cap((areaPairs ++ lengthPairs).map(_._2).distinct)
    def parts(g: Geometry): Seq[Geometry] = (0 until g.getNumGeometries).map(g.getGeometryN)

    val m = Map.newBuilder[String, Double]
    m += "h3.latLngToCell_us" -> usPerOp(vertices.size) { _ =>
      vertices.foreach { case (la, lo) => sink += H3.latLngToCell(la, lo, res) }
    }
    val segments = cap(geoms.flatMap(parts).collect {
      case l: LineString => l.getCoordinates.sliding(2).map(p =>
        (LatLng.degrees(p(0).y, p(0).x), LatLng.degrees(p(1).y, p(1).x)))
    }.flatten)
    m += "h3.pathCells_us" -> usPerOp(segments.size) { _ =>
      segments.foreach { case (a, b) => sink += H3.pathCells(a, b, res).length }
    }
    val rings = cap(geoms.flatMap(parts).collect {
      case p: Polygon =>
        def ll(cs: Array[org.locationtech.jts.geom.Coordinate]) =
          cs.map(c => LatLng.degrees(c.y, c.x)).dropRight(1)
        (ll(p.getExteriorRing.getCoordinates),
          (0 until p.getNumInteriorRing).map(i => ll(p.getInteriorRingN(i).getCoordinates)))
    }, 2000)
    m += "h3.polygonToCells_us" -> usPerOp(rings.size) { _ =>
      rings.foreach { case (o, h) => sink += H3.polygonToCells(o, h, res).length }
    }
    m += "h3.cellToBoundary_us" -> usPerOp(cells.size) { _ =>
      cells.foreach(c => sink += H3.cellToBoundary(c).length)
    }
    m += "geo.ringArea_us" -> usPerOp(boundaries.size) { _ =>
      boundaries.foreach(b => sink += GeodesicExact.ringArea(b).toLong)
    }
    // cold memo: four disjoint quarters of cells this JVM has never indexed
    val quarter = memoCells.size / 4
    m += "geo.cellInfo_us" -> usPerOp(quarter) { p =>
      memoCells.slice(p * quarter, (p + 1) * quarter).foreach(c =>
        sink += H3Geo.cellInfoCached(c).clip.size)
    }
    def clips(ps: IndexedSeq[(Geometry, Long)]) =
      ps.flatMap { case (g, c) => H3Geo.cellInfoCached(c).clip.map(r => (g, r)) }
    val areaClips = clips(areaPairs)
    m += "geo.areaIn_us" -> usPerOp(areaClips.size) { _ =>
      areaClips.foreach { case (g, r) => sink += ConvexClip.areaIn(r, g).toLong }
    }
    val lengthClips = clips(lengthPairs)
    m += "geo.lengthIn_us" -> usPerOp(lengthClips.size) { _ =>
      lengthClips.foreach { case (g, r) => sink += ConvexClip.lengthIn(r, g).toLong }
    }
    // points given as lat/lon reach the parser as st_point WKT
    val parsed = cap(strs.toSeq ++ points.map { case (la, lo) =>
      GeoIO.toWkt(GeoIO.point(lo, la)) }, MaxFeatures)
    m += "geo.parse_us" -> usPerOp(parsed.size) { _ =>
      parsed.foreach(s => sink += GeoIO.parseString(s).getNumPoints)
    }
    m += "geo.makeValid_us" -> usPerOp(parsed.size) { _ =>
      parsed.foreach(s => sink += Option(GraftFunctions.makeValidWkt(s)).map(_.length).getOrElse(0))
    }
    System.err.println(s"[perfbench] kernel checksum $sink")
    m.result()
  }
}
