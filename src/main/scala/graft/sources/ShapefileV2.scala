package graft.sources

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 shapefile reader: `spark.read.format("shapefile")
  * .load(path)` where path is a .shp file or a directory of them.
  *
  * Each .shp is SPLIT into
  * record ranges using the sibling .shx index (100-byte header + one
  * 8-byte (offset, length) entry per record — the published ESRI spec), so
  * a large shapefile scans in parallel tasks, each seeking straight to its
  * first record. Without a .shx the file falls back to one sequential
  * partition. Attributes come from the sibling .dbf, whose fixed-size
  * records seek directly by index. (The reference reads shapefiles through
  * Sedona's DataSource, spark/spark.py:58-73; same surface here, minus the
  * Sedona dependency.)
  */
class ShapefileV2 extends TableProvider with DataSourceRegister {

  override def shortName(): String = "shapefile"

  private def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    // DataFrameReader.load(p1, p2, ...) passes the multi-path form as a
    // JSON-encoded array in the 'paths' option, not a comma list
    val multi = Option(options.get("paths")).toSeq.flatMap { raw =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(raw, classOf[Array[String]]).toSeq
    }
    val all = (single ++ multi).flatMap { p =>
      val path = Paths.get(p)
      if (Files.isDirectory(path)) {
        val listing = Files.list(path)
        try listing.iterator().asScala
          .filter(_.toString.endsWith(".shp")).map(_.toString).toSeq.sorted
        finally listing.close()
      } else Seq(p)
    }
    require(all.nonEmpty, "shapefile source requires a .shp path")
    all
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShapefileV2.schemaFor(pathsOf(options).head)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ShapefileTable(schema,
      pathsOf(new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = false
}

object ShapefileV2 {
  /** target records per split (records are small; the split exists to
    * parallelize parsing, not IO)
    */
  private[sources] val RecordsPerSplit = 8192

  def schemaFor(shpPath: String): StructType = {
    val dbf = Paths.get(shpPath.replaceAll("\\.shp$", ".dbf"))
    val attrFields =
      if (Files.exists(dbf)) {
        val head = new Array[Byte](math.min(Files.size(dbf), 32 * 260).toInt)
        val in = Files.newInputStream(dbf)
        try { var o = 0; while (o < head.length) {
          val n = in.read(head, o, head.length - o)
          if (n < 0) o = head.length else o += n } }
        finally in.close()
        Shapefile.dbfMeta(head).schema
      } else Seq.empty
    StructType(StructField("geometry", StringType, nullable = true) +: attrFields)
  }
}

final class ShapefileTable(tableSchema: StructType, paths: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = paths.mkString(",")
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ShapefileScanBuilder(tableSchema, paths)
}

/** Column pruning: the scan honors pruneColumns so `select(geometry)` never
  * decodes .dbf attributes (and attribute-only reads skip geometry parsing).
  */
final class ShapefileScanBuilder(full: StructType, paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ShapefileScan(full, required, paths)
}

final case class ShapefileSplit(shpPath: String, startRecord: Int,
                                endRecord: Int) extends InputPartition

final class ShapefileScan(full: StructType, required: StructType,
                          paths: Seq[String]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"shapefile ${paths.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    // every reader decodes records with its own file's .dbf layout and maps
    // values positionally into the table schema — a heterogeneous directory
    // would silently misalign columns, so fail loudly up front
    paths.foreach { shp =>
      val s = ShapefileV2.schemaFor(shp)
      require(s == full,
        s"shapefile $shp schema ${s.simpleString} does not match table schema " +
          s"${full.simpleString}; mixed-layout directories are not supported")
    }
    paths.toArray.flatMap { shp =>
      val shx = Paths.get(shp.replaceAll("\\.shp$", ".shx"))
      if (Files.exists(shx)) {
        val records = ((Files.size(shx) - 100) / 8).toInt
        val step = ShapefileV2.RecordsPerSplit
        (0 until records by step).map(s =>
          ShapefileSplit(shp, s, math.min(s + step, records)))
      } else Seq(ShapefileSplit(shp, 0, -1)) // sequential fallback
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ShapefileReaderFactory(full, required)
}

final class ShapefileReaderFactory(full: StructType, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ShapefileRecordReader(full, required, p.asInstanceOf[ShapefileSplit])
}

/** Reads [startRecord, endRecord) via .shx seeks (or the whole file when
  * endRecord < 0), joining each geometry with its same-index .dbf record.
  */
final class ShapefileRecordReader(full: StructType, required: StructType,
                                  split: ShapefileSplit)
    extends PartitionReader[InternalRow] {

  private val wantGeom = required.fieldNames.contains("geometry")
  private val attrIdx: Array[Int] = required.fields.filter(_.name != "geometry")
    .map(f => full.fieldIndex(f.name) - 1) // full attr position (minus geometry)

  private val shp = new RandomAccessFile(split.shpPath, "r")
  private val shxPath = Paths.get(split.shpPath.replaceAll("\\.shp$", ".shx"))
  private val shxEntries: ByteBuffer =
    if (split.endRecord >= 0) {
      val n = split.endRecord - split.startRecord
      val buf = new Array[Byte](n * 8)
      val raf = new RandomAccessFile(shxPath.toFile, "r")
      try { raf.seek(100L + split.startRecord * 8L); raf.readFully(buf) }
      finally raf.close()
      ByteBuffer.wrap(buf).order(ByteOrder.BIG_ENDIAN)
    } else null

  private val dbf: Option[(RandomAccessFile, Shapefile.DbfMeta)] = {
    val p = Paths.get(split.shpPath.replaceAll("\\.shp$", ".dbf"))
    if (attrIdx.nonEmpty && Files.exists(p)) {
      val raf = new RandomAccessFile(p.toFile, "r")
      val head = new Array[Byte](math.min(raf.length(), 32 * 260).toInt)
      raf.seek(0); raf.readFully(head)
      Some((raf, Shapefile.dbfMeta(head)))
    } else None
  }

  private var recIdx = split.startRecord
  private var seqOffset = 100L // sequential-fallback cursor
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (split.endRecord >= 0 && recIdx >= split.endRecord) return false
    if (split.endRecord < 0 && seqOffset + 8 > shp.length()) return false

    val (contentOff, contentLen) =
      if (shxEntries != null) {
        val pos = (recIdx - split.startRecord) * 8
        val offWords = shxEntries.getInt(pos)
        val lenWords = shxEntries.getInt(pos + 4)
        (offWords * 2L + 8L, lenWords * 2)
      } else {
        shp.seek(seqOffset + 4)
        val lenWords = shp.readInt() // record header length field (BE)
        val r = (seqOffset + 8, lenWords * 2)
        seqOffset += 8 + lenWords * 2L
        r
      }

    val geom: Any =
      if (wantGeom) {
        val bytes = new Array[Byte](contentLen)
        shp.seek(contentOff); shp.readFully(bytes)
        val wkt = Shapefile.parseRecord(
          ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN))
        if (wkt == null) null else UTF8String.fromString(wkt)
      } else null

    val attrs: Seq[Any] = dbf match {
      case Some((raf, meta)) =>
        val rec = new Array[Byte](meta.recordSize)
        raf.seek(meta.headerSize + recIdx.toLong * meta.recordSize)
        raf.readFully(rec)
        val all = meta.decode(rec)
        attrIdx.toSeq.map { i =>
          all(i) match {
            case s: String => UTF8String.fromString(s)
            case other => other
          }
        }
      case None => attrIdx.toSeq.map(_ => null)
    }

    val out = new Array[Any](required.length)
    var ai = 0
    var i = 0
    while (i < required.length) {
      if (required.fields(i).name == "geometry") out(i) = geom
      else { out(i) = attrs(ai); ai += 1 }
      i += 1
    }
    row = InternalRow.fromSeq(out.toSeq)
    recIdx += 1
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = {
    shp.close()
    dbf.foreach(_._1.close())
  }
}
