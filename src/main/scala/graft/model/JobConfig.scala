package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import scala.jdk.CollectionConverters._

/** Config ADT + validator cascade, mirroring the reference's pydantic models
  * (data_model/job.py:43-173, data_model/vector.py:59-298) as pure-Scala
  * smart constructors returning Either[errors, value]. No Spark dependency.
  */
sealed trait GeometryType
object GeometryType {
  case object Point extends GeometryType
  case object Line extends GeometryType
  case object Polygon extends GeometryType
  def parse(s: String): Either[String, GeometryType] = s.toUpperCase match {
    case "POINT" => Right(Point); case "LINE" => Right(Line)
    case "POLYGON" => Right(Polygon)
    case other => Left(s"unknown geometry_type '$other'")
  }
}

sealed trait Method
object Method {
  case object Within extends Method          // points
  case object PctLength extends Method       // lines
  case object PctArea extends Method         // polygons
  case object PassThrough extends Method     // declared, not implemented (vector.py:33-37)
  case object Centroid extends Method        // declared, not implemented (vector.py:40-44)
  def parse(s: String): Either[String, Method] = s.toUpperCase match {
    case "WITHIN" => Right(Within); case "PCT_LENGTH" => Right(PctLength)
    case "PCT_AREA" => Right(PctArea); case "PASS_THROUGH" => Right(PassThrough)
    case "CENTROID" => Right(Centroid)
    case other => Left(s"unknown method '$other'")
  }
  /** method ↔ geometry-type compatibility (vector.py:224-257) */
  def compatible(m: Method, g: GeometryType): Boolean = (m, g) match {
    case (Within, GeometryType.Point) => true
    case (PctLength | PassThrough, GeometryType.Line) => true
    case (PctArea | Centroid, GeometryType.Polygon) => true
    case _ => false
  }
}

/** A declared job input: vector tables are indexed; raster files validate
  * (s3_uri shape, raster.py:10-38) but are silently skipped by the indexer
  * exactly like the reference (main.py:52 dispatches only
  * `type == 'vector'`; README.md:161 says rasters must be pre-converted to
  * point centroids).
  */
sealed trait JobInput { def name: String }

/** One vector input (data_model/vector.py:59-97). Source is either a path
  * (parquet) or a catalog table (+ optional where clause) — mutually
  * exclusive (vector.py:138-179).
  */
final case class VectorInput(
    name: String,
    path: Option[String],
    catalogDatabase: Option[String],
    catalogTable: Option[String],
    whereClause: Option[String],
    uniqueId: String,
    geometryType: GeometryType,
    geometryColumn: Option[String],
    latColumn: Option[String],
    lonColumn: Option[String],
    method: Method,
    inputColumns: Seq[String]) extends JobInput

/** A raster input: validated, carried in the job, never indexed
  * (data_model/raster.py:10-38).
  */
final case class RasterInput(name: String, s3Uri: String) extends JobInput

final case class Job(
    name: String,
    version: String,
    h3Resolution: Int,
    outputPath: String,
    inputs: Seq[JobInput],
    /** when set, the rows validate() drops (null / irreparable geometry)
      * are written here as parquet partitioned by input name, each with a
      * reject_reason — instead of vanishing with only a count like the
      * reference (geospatial.py:158-164). Off by default: parity first.
      */
    quarantinePath: Option[String] = None)

/** Job lifecycle (reference data_model/job.py:19-28, main.py:48-98): the
  * metadata an orchestrator polls. Immutable; each transition returns a new
  * state with updatedAt advanced.
  */
object JobStatus extends Enumeration {
  val Pending, Validated, RunningIndexer, CompletedIndexer,
      RunningResolver, CompletedResolver, Failed = Value
}

final case class JobState(
    id: String,
    status: JobStatus.Value,
    errorMessage: Option[String],
    createdAt: java.time.Instant,
    updatedAt: Option[java.time.Instant]) {
  def advance(to: JobStatus.Value): JobState =
    copy(status = to, updatedAt = Some(java.time.Instant.now()))
  def fail(message: String): JobState =
    copy(status = JobStatus.Failed, errorMessage = Some(message),
      updatedAt = Some(java.time.Instant.now()))
}

object JobState {
  def fresh(): JobState = JobState(
    id = java.util.UUID.randomUUID().toString.replace("-", "").take(12),
    status = JobStatus.Pending, errorMessage = None,
    createdAt = java.time.Instant.now(), updatedAt = None)
}

object JobConfig {

  private val yaml = new ObjectMapper(new YAMLFactory())
  private val json = new ObjectMapper()

  def fromYaml(text: String): Either[List[String], Job] = fromNode(yaml.readTree(text))
  def fromJson(text: String): Either[List[String], Job] = fromNode(json.readTree(text))

  private def opt(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText())

  def fromNode(root: JsonNode): Either[List[String], Job] = {
    val errs = scala.collection.mutable.ListBuffer.empty[String]

    val name = opt(root, "name").getOrElse { errs += "name is required"; "" }
    val version = opt(root, "version").getOrElse { errs += "version is required"; "" }
    // semver (job.py:110-125)
    if (version.nonEmpty && !version.matches("""\d+\.\d+\.\d+"""))
      errs += s"version '$version' is not semver"
    val res = Option(root.get("h3_resolution")).map(_.asInt(-1)).getOrElse(-1)
    // resolution range 3..10 (job.py:127-142)
    if (res < 3 || res > 10) errs += s"h3_resolution $res outside [3,10]"
    val out = opt(root, "output_s3_path").orElse(opt(root, "output_path"))
      .getOrElse { errs += "output path is required"; "" }

    val inputsNode = Option(root.get("inputs")).getOrElse {
      errs += "inputs are required"; json.createObjectNode()
    }
    val inputs = inputsNode.properties().asScala.toSeq.flatMap { e =>
      parseInput(e.getKey, e.getValue) match {
        case Right(v) => Some(v)
        case Left(es) => errs ++= es.map(x => s"input ${e.getKey}: $x"); None
      }
    }
    val quarantine = opt(root, "quarantine_s3_path").orElse(opt(root, "quarantine_path"))
      .map(p => if (p.startsWith("s3://")) "s3a://" + p.stripPrefix("s3://") else p)
    if (errs.isEmpty) Right(Job(name, version, res, out, inputs, quarantine))
    else Left(errs.toList)
  }

  private def parseInput(name: String, n: JsonNode): Either[List[String], JobInput] = {
    val errs = scala.collection.mutable.ListBuffer.empty[String]
    val typ = opt(n, "type").getOrElse("vector")
    // raster inputs VALIDATE (s3_uri must be s3://, raster.py:29-38) and are
    // then skipped by the indexer — matching main.py:52, not an error here
    if (typ == "raster") {
      val uri = opt(n, "s3_uri")
      return uri match {
        case Some(u) if u.startsWith("s3://") => Right(RasterInput(name, u))
        case Some(u) => Left(List(s"S3 URI must start with s3://: $u"))
        case None => Left(List("raster input requires s3_uri"))
      }
    }
    if (typ != "vector") errs += s"unknown input type '$typ' (must be 'vector' or 'raster')"

    val path = opt(n, "s3_path").orElse(opt(n, "path"))
      // s3:// normalized to s3a:// (vector.py:181-200)
      .map(p => if (p.startsWith("s3://")) "s3a://" + p.stripPrefix("s3://") else p)
    val glueDb = opt(n, "glue_catalog_database_name").map(_.toLowerCase)
    val glueTable = opt(n, "glue_catalog_table_name").map(_.toLowerCase)
    val where = opt(n, "where_clause")
    // path XOR catalog (vector.py:138-179)
    if (path.isDefined && (glueDb.isDefined || glueTable.isDefined))
      errs += "s3_path and glue catalog parameters are mutually exclusive"
    if (path.isEmpty && (glueDb.isEmpty || glueTable.isEmpty))
      errs += "either s3_path or both glue catalog database and table are required"
    if (where.isDefined && glueTable.isEmpty)
      errs += "where_clause requires a glue catalog table"

    val uid = opt(n, "unique_id").getOrElse { errs += "unique_id is required"; "" }
    val gt = opt(n, "geometry_type").map(GeometryType.parse) match {
      case Some(Right(g)) => Some(g)
      case Some(Left(e))  => errs += e; None
      case None           => errs += "geometry_type is required"; None
    }
    val geomCol = opt(n, "geometry_column_name")
    val latCol = opt(n, "lat_column_name")
    val lonCol = opt(n, "lon_column_name")
    // geometry column requirements per type (vector.py:272-298)
    gt.foreach {
      case GeometryType.Point =>
        if (geomCol.isEmpty && (latCol.isEmpty || lonCol.isEmpty))
          errs += "POINT requires geometry_column_name or lat+lon column names"
        if (geomCol.isDefined && (latCol.isDefined || lonCol.isDefined))
          errs += "geometry_column_name and lat/lon columns are mutually exclusive"
      case _ =>
        if (geomCol.isEmpty) errs += "geometry_column_name is required"
        if (latCol.isDefined || lonCol.isDefined)
          errs += "lat/lon columns are only valid for POINT inputs"
    }
    val method = opt(n, "method").map(Method.parse) match {
      case Some(Right(m)) => Some(m)
      case Some(Left(e))  => errs += e; None
      case None           => errs += "method is required"; None
    }
    for (m <- method; g <- gt if !Method.compatible(m, g))
      errs += s"method $m incompatible with geometry type $g"
    val cols = Option(n.get("input_columns")).map(c =>
      (0 until c.size()).map(i => {
        val e = c.get(i)
        if (e.isTextual) e.asText() else Option(e.get("name")).map(_.asText()).getOrElse("")
      }).filter(_.nonEmpty)).getOrElse(Seq.empty)
    if (cols.isEmpty) errs += "input_columns must be non-empty"

    if (errs.isEmpty)
      Right(VectorInput(name, path, glueDb, glueTable, where, uid, gt.get,
        geomCol, latCol, lonCol, method.get, cols))
    else Left(errs.toList)
  }
}
